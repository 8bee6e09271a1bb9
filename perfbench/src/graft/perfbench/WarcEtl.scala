package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.regex.Pattern

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

import graft.rake.Rake
import graft.warc.{AvroSink, Blacklist, HtmlParse, Pipeline, UrlTools, WarcSource}

/** warc_etl: `Pipeline.run(glob → avro)` over the seeded archives, the
  * reference's own job. Every run's Avro output is read back with the
  * plain Avro reader and compared with the generator's truth. */
final class WarcEtl(ctx: Ctx) extends Workload {
  private val warcDir = ctx.args.input.resolve("warc")
  private val glob = s"$warcDir/*.warc*"
  private val warcBytes = Files.list(warcDir).iterator.asScala.map(Files.size).sum
  private val outRoot = ctx.args.work.resolve("out")
  private var runs = 0

  private case class Truth(title: String, words: Int, links: Int, ga: Seq[String])
  private val truth: Map[String, Truth] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ctx.args.input.resolve("truth.json").toFile)
    node.properties.asScala.map { e =>
      val t = e.getValue
      e.getKey -> Truth(t.get("title").asText, t.get("words").asInt,
        t.get("links").asInt, t.get("ga").elements.asScala.map(_.asText).toSeq)
    }.toMap
  }

  /** The url_resource contract, field by field (SURVEY §1.2). */
  private val Fields = Seq("url", "hostname", "domain_name", "size_bytes",
    "load_time", "title", "text_content", "headings_text", "word_count",
    "links", "resource_urls", "keywords", "meta_tags", "headers",
    "google_analytics", "google_analytics_config", "html_errors", "source")

  private val mismatches = mutable.ArrayBuffer[String]()

  private def runPipeline(): Check = {
    runs += 1
    val out = outRoot.resolve(s"run-$runs")
    Pipeline.run(ctx.spark, glob, out.toString, "avro")
    () => try checkOutput(out) finally deleteTree(out)
  }

  /** Read the written containers back and compare with the truth. */
  private def checkOutput(out: Path): Boolean = {
    val files = Files.list(out).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".avro")).toSeq
    val seen = mutable.Set[String]()
    val bad = mutable.ArrayBuffer[String]()
    files.foreach { f =>
      val r = new DataFileReader[GenericRecord](f.toFile, new GenericDatumReader[GenericRecord]())
      try {
        val names = r.getSchema.getFields.asScala.map(_.name).toSeq
        if (names != Fields) bad += s"schema ${names.mkString(",")}"
        r.iterator.asScala.foreach { rec =>
          val url = rec.get("url").toString
          seen += url
          truth.get(url) match {
            case None => bad += s"unexpected survivor $url"
            case Some(t) =>
              val ga = rec.get("google_analytics").asInstanceOf[java.util.List[_]]
                .asScala.map(_.toString).toSeq
              val links = rec.get("links").asInstanceOf[java.util.List[_]].size
              val got = Truth(rec.get("title").toString,
                rec.get("word_count").asInstanceOf[Int], links, ga)
              if (got != t) bad += s"$url: got $got, want $t"
          }
        }
      } finally r.close()
    }
    val missing = truth.keySet -- seen
    if (missing.nonEmpty) bad += s"${missing.size} survivors missing, e.g. ${missing.head}"
    if (bad.nonEmpty) mismatches ++= bad.take(3)
    bad.isEmpty
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** Warm-up: three runs over the first three archives take the code out
    * of the interpreter cheaply, then four checked full runs let the JIT
    * settle (op time falls for ~4 full runs on 4 busy cores; a stop-when-
    * flat rule was fooled by run-to-run noise). */
  def setUp(): Unit = {
    (1 to 3).foreach { _ =>
      val run = ctx.runOp("pipeline_run_small", "setup", () => {
        val out = outRoot.resolve("warm-up")
        Pipeline.run(ctx.spark, s"$warcDir/crawl-00[0-2].warc*", out.toString, "avro")
        () => { deleteTree(out); true }
      })
      require(run.ok, s"warm-up run failed: ${run.error}")
    }
    warmUp = (1 to 4).map { _ =>
      val run = ctx.runOp("pipeline_run", "setup", () => runPipeline())
      require(run.ok, s"warm-up run failed: ${run.error} ${mismatches.mkString("; ")}")
      run.seconds
    }
  }
  private var warmUp = Seq.empty[Double]

  def nextOp(i: Int): (String, String, () => Check) =
    ("pipeline_run", "write", () => runPipeline())

  override def finish(): Map[String, Any] = Map(
    "input_mb" -> warcBytes / 1048576.0,
    "survivors" -> truth.size,
    "warm_up_runs_s" -> warmUp,
    "check_mismatches" -> mismatches.toSeq)

  /** Per-layer pass: the scan alone, then each public function of the
    * chain in pipeline order over the same records on the task threads
    * (one span per call), then the sink alone over the enriched frame. */
  override def layerPass(): Map[String, Any] = {
    val spark = ctx.spark
    def busy(op: OpResult) = ctx.listener.tasksOf(op.id).map(_.runMs).sum / 1e3
    def run(name: String, kind: String)(body: => Unit): OpResult = {
      val op = ctx.runOp(name, kind, () => { body; () => true })
      require(op.ok, s"layer pass step $name failed: ${op.error}")
      op
    }
    val out = mutable.LinkedHashMap[String, Any]()

    var scanStats = (0L, 0L)
    var splits = 0
    val scan = run("scan", "read") {
      val rdd = WarcSource.read(spark, glob).rdd
      splits = rdd.getNumPartitions
      scanStats = rdd.map(r => (1L, r.content.length.toLong))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    }
    out ++= Seq("scan.records" -> scanStats._1, "scan.bytes" -> scanStats._2,
      "scan.splits" -> splits, "scan.busy_s" -> busy(scan))

    var parts = Array.empty[(Seq[CallSpan], Map[String, Double])]
    var passSpan = ("", 0L)
    val pass = run("layer_pass", "read") {
      passSpan = ctx.current.get
      parts = WarcEtl.layerPassRdd(WarcSource.read(spark, glob).rdd).collect()
    }
    val (opId, root) = passSpan
    parts.foreach { case (calls, _) =>
      calls.groupBy(_.record).values.foreach { cs =>
        val rec = ctx.spans.nextId()
        ctx.spans.add(Span(rec, root, opId, "record", "record",
          cs.map(_.startNs).min, cs.map(_.endNs).max))
        cs.foreach(c => ctx.spans.add(Span(ctx.spans.nextId(), rec, opId,
          c.layer, c.layer, c.startNs, c.endNs)))
      }
    }
    val counts = parts.map(_._2).foldLeft(Map.empty[String, Double]) { (a, b) =>
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
    }
    val calls = parts.flatMap(_._1)
    def layerBusy(layer: String) = calls.filter(_.layer == layer)
      .map(c => (c.endNs - c.startNs) / 1e9).sum
    def c(k: String) = counts.getOrElse(k, 0.0)
    out ++= Seq(
      "gunzip.calls" -> c("gunzip.calls"), "gunzip.busy_s" -> layerBusy("gunzip"),
      "gunzip.corrupt" -> c("gunzip.corrupt"),
      "headers.busy_s" -> layerBusy("headers"), "ga.busy_s" -> layerBusy("ga"),
      "html.calls" -> c("html.calls"), "html.bytes" -> c("html.bytes"),
      "html.busy_s" -> layerBusy("html"),
      "html.repaired_share" -> c("html.repaired") / math.max(1.0, c("html.calls")),
      "html.oversize_skipped" -> c("html.oversize_skipped"),
      "url.links" -> c("url.links"), "url.busy_s" -> layerBusy("url"),
      "filter.kept_share" -> c("filter.kept") / math.max(1.0, c("filter.responses")),
      "filter.busy_s" -> layerBusy("filter"),
      "rake.calls" -> c("rake.calls"), "rake.words" -> c("rake.words"),
      "rake.busy_s" -> layerBusy("rake"), "layer_pass.wall_s" -> pass.seconds)

    var enriched: org.apache.spark.sql.DataFrame = null
    run("enrich", "read") {
      enriched = Pipeline.urlResources(WarcSource.read(spark, glob))
        .sortWithinPartitions("crawl_day", "domain_name").persist()
      enriched.count()
    }
    val sinkDir = ctx.args.work.resolve("sink")
    val sink = run("sink", "write")(AvroSink.write(enriched, sinkDir.toString))
    val sinkBytes = Files.list(sinkDir).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".avro")).map(Files.size).sum
    out ++= Seq("sink.records" -> enriched.count(), "sink.bytes_out" -> sinkBytes,
      "sink.busy_s" -> busy(sink))
    enriched.unpersist()
    deleteTree(sinkDir)
    out.toMap
  }
}

/** One call into a layer, timed on a task thread. */
final case class CallSpan(record: Long, layer: String, startNs: Long, endNs: Long)

object WarcEtl {
  /** The chain's functions in pipeline order, per record, on the task
    * threads: (call spans, counters) per partition. */
  def layerPassRdd(records: org.apache.spark.rdd.RDD[graft.warc.WarcRecord])
      : org.apache.spark.rdd.RDD[(Seq[CallSpan], Map[String, Double])] =
    records.mapPartitionsWithIndex { (part, it) =>
      val hostRe = Pattern.compile(Pipeline.HostnamePattern)
      val gaRe = Pattern.compile(Pipeline.GaPattern)
      val gaCfgRe = Pattern.compile(Pipeline.GaConfigPattern)
      val wsRe = Pattern.compile("(\\s|\\\\n){2,}")
      val calls = mutable.ArrayBuffer[CallSpan]()
      val n = mutable.Map[String, Double]().withDefaultValue(0.0)
      var idx = part.toLong << 32
      def timed[T](layer: String)(body: => T): T = {
        val t0 = Clock.nowNs()
        val r = body
        calls += CallSpan(idx, layer, t0, Clock.nowNs())
        r
      }
      def findAll(p: Pattern, s: String, g: Int): Int = {
        val m = p.matcher(s); var k = 0
        while (m.find()) { m.group(g); k += 1 }
        k
      }
      it.foreach { r =>
        idx += 1
        if (r.version != "0" && r.header.get("warc-type").contains("response")) {
          n("filter.responses") += 1
          val url = r.header.getOrElse("warc-target-uri", "")
          val host = timed("filter") {
            val m = hostRe.matcher(url)
            val h = if (m.find()) m.group(1) else ""
            if (Blacklist.onBlacklist(h, url)) null else h
          }
          if (host != null) {
            n("gunzip.calls") += 1
            val decoded = timed("gunzip")(WarcSource.gunzip(r.content)
              .map(b => new String(b, StandardCharsets.UTF_8)))
            decoded match {
              case None => n("gunzip.corrupt") += 1
              case Some(text) =>
                n("filter.kept") += 1
                val (headers, rawHtml) = timed("headers") {
                  val env = text.split("\n\r\n", -1)
                  (Pipeline.parseHeaders(env(0)), env.drop(1).mkString(" "))
                }
                timed("ga") {
                  findAll(gaRe, rawHtml, 0) + findAll(gaCfgRe, rawHtml, 1)
                }
                val size = r.header.get("uncompressed-content-length")
                  .flatMap(_.toLongOption).getOrElse(0L)
                if (size > Pipeline.MaxParseBytes || rawHtml.length > Pipeline.MaxParseBytes)
                  n("html.oversize_skipped") += 1
                else {
                  n("html.calls") += 1
                  n("html.bytes") += rawHtml.length
                  val html = timed("html")(HtmlParse.parse(rawHtml))
                  if (html.html_errors.nonEmpty) n("html.repaired") += 1
                  val links = timed("url") {
                    UrlTools.domainRoot(headers.getOrElse("X-Funnelback-AA-Domain", host))
                    UrlTools.absolutize(url, html.links).size +
                      UrlTools.absolutize(url, html.resource_urls).size
                  }
                  n("url.links") += links
                  val textContent = wsRe.matcher(html.text.mkString(" ")).replaceAll("")
                  n("rake.calls") += 1
                  n("rake.words") += textContent.trim.split("\\s+").count(_.nonEmpty)
                  timed("rake")(Rake.keywords(textContent))
                }
            }
          }
        }
      }
      Iterator((calls.toSeq, n.toMap))
    }
}
