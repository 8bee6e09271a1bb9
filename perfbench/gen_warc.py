"""Seeded WARC archives for the warc_etl workload, with the truth the
output check compares against and the input properties the report prints.

The seed picks content and order only. Page-size quantiles, record-type
counts, corrupt and blacklisted counts and the container mix are fixed
by design, so two seeds cost the engine about the same and a run-to-run
difference is the engine's, not the input's.
"""
import gzip
import json
import os
import random

import numpy as np
from statistics import NormalDist

# A slice of the SMART stoplist the engine's RAKE uses; English text runs
# ~45% function words, which is what RAKE's phrase splitting costs follow.
STOPWORDS = (
    "the of and to a in that is was he for it with as his on be at by i "
    "this had not are but from or have an they which one you were her all "
    "she there would their we him been has when who will more no if out so "
    "said what up its about into than them can only other new some could "
    "these two may then do first any my now such like our over man me even "
    "most made after also did many before must through back years where "
    "much your way well down should because each just those people how too "
    "little state good very make world still own see men work long get here "
    "between both life being under never day same another know while last"
).split()
# Hosts the engine's F2 blacklist denies (graft.warc.Blacklist).
BLACKLISTED_HOSTS = ["data.gov.au", "trove.nla.gov.au", "training.gov.au",
                     "www.tenders.gov.au"]
SYLLABLES = ("ka ri to men sa lo ve dan per ti ro mo na lu se ga fi "
             "der pol ham tra cor ven ist ber lin mar cal dor nes").split()

MAX_PARSE_BYTES = 2_000_000  # the engine's F3 oversize guard


def _vocab(rng, n):
    words = set()
    while len(words) < n:
        k = rng.choice((2, 2, 3, 3, 3, 4))
        words.add("".join(rng.choice(SYLLABLES) for _ in range(k)))
    return sorted(words)


class TextGen:
    """English-like sentences: Zipf content words, ~45% stopwords, commas,
    sentence-final punctuation and ~1% digit-bearing tokens."""

    def __init__(self, rng, np_rng):
        self.rng = rng
        self.np = np_rng
        vocab = _vocab(rng, 3000)
        years = [str(y) for y in range(1900, 2030)]
        zipf = np.array([1.0 / (r + 1) ** 1.05 for r in range(len(vocab))])
        p = np.concatenate([np.full(len(STOPWORDS), 0.45 / len(STOPWORDS)),
                            np.full(len(years), 0.01 / len(years)),
                            0.54 * zipf / zipf.sum()])
        self.table = np.array(STOPWORDS + years + vocab, dtype=object)
        self.cdf = np.cumsum(p)
        self.cdf[-1] = 1.0

    def words(self, n):
        idx = np.searchsorted(self.cdf, self.np.random(n), side="right")
        return self.table[idx]

    def sentences(self, n_words):
        """Single-space separated sentences totalling exactly n_words tokens."""
        toks = self.words(n_words)
        commas = np.nonzero(self.np.random(n_words) < 0.08)[0]
        toks[commas] = toks[commas] + ","
        ends = np.cumsum(self.np.integers(6, 23, size=n_words // 6 + 1))
        ends = ends[ends < n_words].tolist() + [n_words]
        marks = self.np.integers(0, 7, size=len(ends)).tolist()
        start = 0
        for e, mark in zip(ends, marks):
            toks[start] = toks[start].capitalize()
            toks[e - 1] = toks[e - 1].rstrip(",") + ".....?!"[mark]
            start = e
        return " ".join(toks.tolist())


def _page(rng, tg, url, host, target_bytes, oversize):
    """One HTML page of about target_bytes; returns (html, truth-fields)."""
    title = " ".join(w.capitalize() for w in tg.words(rng.randint(3, 7)).tolist())
    title += " | " + host
    ga = []
    head = [f"<title>{title}</title>",
            f'<meta name="description" content="{tg.sentences(12)}">',
            '<meta property="og:type" content="website">',
            f'<link rel="stylesheet" href="/assets/site{rng.randrange(9)}.css">']
    u = rng.random()
    if u < 0.55:
        ua = f"UA-{rng.randrange(10**5, 10**8)}-{rng.randrange(1, 9)}"
        ga.append(ua)
        head.append(f"<script>ga('create', '{ua}', 'auto'); "
                    "ga('send', 'pageview');</script>")
    if u < 0.25:
        gtm = "GTM-" + "".join(rng.choice("ABCDEFGHJKLMNPQRSTUVWXYZ23456789")
                               for _ in range(6))
        ga.append(gtm)
        head.append(f"<script src=\"https://www.googletagmanager.com/gtm.js?id={gtm}\"></script>")
    body, words, hrefs = [], 0, []
    path_id = 0
    soup = rng.random() < 0.1  # tag soup the parser has to repair
    size = sum(len(h) for h in head) + 200
    while size < target_bytes:
        kind = rng.random()
        if kind < 0.12:
            n = rng.randint(2, 8)
            lvl = rng.randint(1, 4)
            chunk = f"<h{lvl}>{tg.sentences(n).rstrip('.?!')}</h{lvl}>"
        elif kind < 0.30:
            items = []
            for _ in range(rng.randint(3, 12)):
                path_id += 1
                n = rng.randint(1, 5)
                if rng.random() < 0.15:
                    href = f"#s{path_id}"
                else:
                    href = (f"/{host.split('.')[1]}/p{path_id}/{tg.words(1)[0]}.html"
                            if rng.random() < 0.7 else
                            f"https://www.site{rng.randrange(500)}.gov.au/r/{path_id}/x.html")
                    hrefs.append(href)
                items.append(f'<li><a href="{href}">{" ".join(tg.words(n))}</a></li>')
                words += n
            chunk = "<ul>" + "\n".join(items) + "</ul>"
            n = 0
        elif kind < 0.33:
            chunk = f'<img src="/img/{rng.randrange(10**6)}.png" alt="">'
            n = 0
        else:
            n = rng.randint(20, 160)
            chunk = f"<p>{tg.sentences(n)}</p>"
        words += n
        body.append(chunk)
        size += len(chunk) + 1
    if soup:
        body.insert(len(body) // 2, "<div><span>")
        body.append("</div>")
    html = ("<!DOCTYPE html>\n<html><head>\n" + "\n".join(head) +
            "\n</head>\n<body>\n" + "\n".join(body) + "\n</body></html>\n")
    if oversize:
        # past the F3 guard: parsed to the empty result, GA still scanned
        filler = "<p>" + tg.sentences(200) + "</p>\n"
        html += filler * (MAX_PARSE_BYTES // len(filler) + 2)
        truth = {"title": " ", "words": 0, "links": 0, "ga": ga}
    else:
        truth = {"title": title, "words": words, "links": len(set(hrefs)),
                 "ga": ga}
    return html, truth, soup


def _record(wtype, uri, body, uncompressed, date, rid):
    head = (f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            + (f"WARC-Target-URI: {uri}\r\n" if uri else "")
            + f"WARC-Date: {date}\r\n"
            f"Uncompressed-Content-Length: {uncompressed}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("ascii")
    return head + body + b"\r\n\r\n"


def generate(seed, out_dir, n_files=12, pages_per_file=50, median_kb=9.0,
             sigma=1.15, max_kb=400, oversize_pages=1):
    """Write n_files archives (half .warc, half per-record .warc.gz) to
    out_dir; return the input properties. The truth for every surviving
    page lands in out_dir/../truth.json."""
    rng = random.Random(seed)
    tg = TextGen(rng, np.random.default_rng(seed))
    os.makedirs(out_dir, exist_ok=True)
    n_pages = n_files * pages_per_file
    # fixed size quantiles of a log-normal, dealt largest-first across the
    # files in snake order so every file (one split each) carries about the
    # same bytes; the seed only shuffles pages within a file
    nd = NormalDist()
    sizes = [min(max_kb, median_kb * 2.718281828 ** (sigma * nd.inv_cdf((i + 0.5) / n_pages)))
             for i in range(n_pages)]
    per_file = [[] for _ in range(n_files)]
    for k, size in enumerate(sorted(sizes, reverse=True)):
        lap, col = divmod(k, n_files)
        per_file[col if lap % 2 == 0 else n_files - 1 - col].append(size)
    for pages in per_file:
        rng.shuffle(pages)
    sizes = [size for pages in per_file for size in pages]
    n_corrupt = max(1, n_pages // 100)
    n_black = max(1, n_pages * 2 // 100)
    roles = (["oversize"] * oversize_pages + ["corrupt"] * n_corrupt +
             ["blacklisted"] * n_black)
    roles += ["ok"] * (n_pages - len(roles))
    rng.shuffle(roles)
    hosts = [f"www.agency{i}.gov.au" for i in range(120)]
    truth, props = {}, {"pages": n_pages, "files": n_files, "bytes": 0,
                        "records": 0, "requests": 0, "metadata": 0,
                        "warcinfo": 0, "corrupt": n_corrupt,
                        "blacklisted": n_black, "oversize": oversize_pages,
                        "soup_pages": 0, "html_bytes": 0}
    stopset = set(STOPWORDS)
    page = 0
    for f in range(n_files):
        gz = f % 2 == 1
        name = f"crawl-{f:03d}.warc" + (".gz" if gz else "")
        chunks = []

        def emit(rec):
            chunks.append(gzip.compress(rec, 6) if gz else rec)
            props["records"] += 1

        emit(_record("warcinfo", "", b"software: perfbench-gen\r\n", 25,
                     "2019-07-01T00:00:00Z", f"info-{seed}-{f}"))
        props["warcinfo"] += 1
        for _ in range(pages_per_file):
            role = roles[page]
            host = (rng.choice(BLACKLISTED_HOSTS) if role == "blacklisted"
                    else rng.choice(hosts))
            url = f"https://{host}/p/{seed}/{page}/{tg.words(1)[0]}.html"
            date = f"2019-07-{1 + page % 28:02d}T{page % 24:02d}:00:00Z"
            if rng.random() < 0.5:
                req = f"GET /p/{page} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode()
                emit(_record("request", url, req, len(req), date, f"q-{seed}-{page}"))
                props["requests"] += 1
            html, t, soup = _page(rng, tg, url, host, int(sizes[page] * 1024),
                                  role == "oversize")
            http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
                    f"X-Funnelback-Total-Request-Time-MS: {rng.randrange(20, 4000)}\r\n"
                    + (f"X-Funnelback-AA-Domain: {host}\r\n" if rng.random() < 0.5 else "")
                    + "\r\n").encode() + html.encode()
            payload = gzip.compress(http, 6)
            if role == "corrupt":
                payload = payload[:10] + bytes(b ^ 0x5A for b in payload[10:40]) + payload[40:]
            emit(_record("response", url, payload, len(http), date, f"r-{seed}-{page}"))
            if rng.random() < 0.2:
                meta = f"fetchTimeMs: {rng.randrange(10, 900)}\r\n".encode()
                emit(_record("metadata", url, meta, len(meta), date, f"m-{seed}-{page}"))
                props["metadata"] += 1
            if role in ("ok", "oversize"):
                truth[url] = t
                if role == "ok":
                    props["soup_pages"] += soup
            props["html_bytes"] += len(html)
            page += 1
        data = b"".join(chunks)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        props["bytes"] += len(data)
    # token statistics over a sample of generated text, for the report
    sample = tg.words(20000).tolist()
    props["stopword_share"] = round(sum(w in stopset for w in sample) / len(sample), 4)
    props["digit_token_share"] = round(sum(any(c.isdigit() for c in w) for w in sample) / len(sample), 4)
    props["survivors"] = len(truth)
    props["mean_html_kb"] = round(props["html_bytes"] / n_pages / 1024, 2)
    props["max_html_kb"] = round(max(sizes), 1)
    props["splits"] = n_files
    return truth, props
