"""Seeded workload generator for the pipeline benchmark.

Every input is a pure function of (workload, seed, scale): pages are built
with ``markers.render_marker`` into the ``webpages.WEBPAGES_SCHEMA`` columns
and written as a directory of parquet files, the only thing the program
under test receives. At the same time the oracle (``oracle.process_page``)
runs over every page and its answers are stored next to the input in
``expect.json``: per-sink and per-severity counts, quarantined and
zero-event pages, the routed rows of a fixed url sample, a digest of the
extracted texts and the per-(sink, domain) counts. Generation is cached per
(workload, seed, scale) and is never timed.

The input is made in FILES chunks, one parquet file each, every chunk from
its own random stream, so the chunks are built in parallel and the files
hold near-equal work.

Workloads:
  crawl_text       large text-heavy pages (heavy-tailed html sizes), ~1%
                   carry one or two markers, a small share invalid UTF-8;
                   default PipelineConfig, texts written.
  dense_telemetry  small pages with 5-40 markers each, unique attribute
                   values, every route and every severity-chain branch
                   under a non-default config; steep Zipf over domains.

Every workload also carries the adversarial pages: invalid UTF-8 in a
marker field, invalid attribute JSON, and pages without ``<p>``.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import shutil
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from urllib.parse import urlsplit

from weblog_pipeline.config import AttributeMappings, PipelineConfig
from weblog_pipeline.markers import SpanEvent, render_marker
from weblog_pipeline.oracle import process_page

WORKLOADS = ("crawl_text", "dense_telemetry")

#: fixed observed timestamp handed to build_pipeline, so rows compare exactly
OBSERVED_TS_US = 1_760_000_000_000_000
BASE_TS_NS = 1_751_587_200_000_000_000
#: bump when the generated inputs change, so stale caches are not reused
GEN_VERSION = 6
#: urls whose routed rows are compared row by row against the oracle
SAMPLE_URLS = 24

#: the non-default config of dense_telemetry: every attribute source, every
#: attribute mapping, severity_attribute and add_level are on
DENSE_CONFIG = PipelineConfig(
    include_span_context=True,
    log_attributes_from=("event.attributes", "span.attributes", "resource.attributes"),
    severity_by_event_name=(("debug", "debug"), ("exception", "error"), ("timeout", "warn")),
    add_level=True,
    severity_attribute="log.level",
    attribute_mappings=AttributeMappings(
        body="message", severity_number="sev.num", severity_text="sev.text",
        event_name="event.name",
    ),
)


def config_for(workload: str) -> PipelineConfig:
    return PipelineConfig() if workload == "crawl_text" else DENSE_CONFIG


def write_texts_for(workload: str) -> bool:
    return workload == "crawl_text"


#: page counts at scale 1 (``scale`` shrinks them for the tests)
CRAWL_PAGES = 3200
DENSE_PAGES = 8000
#: chunks, and parquet files, of one input, so the scan splits over every core
FILES = 16
#: processes that build the chunks
GEN_WORKERS = 4
#: mean html bytes of a crawl page and mean markers of a dense page. Each
#: chunk's draw is rescaled to these means, so seeds differ in which pages
#: are large, not in how much work a file or the whole input holds
CRAWL_MEAN_HTML = 27_000
DENSE_MEAN_EVENTS = 9


# -- text and names ----------------------------------------------------------

_WORDS = (
    "the of and to in is was for on that with as by at from his her an which "
    "crawl index page archive web record server request response latency "
    "cache query table column partition shuffle reducer stage task worker "
    "café naïve façade über straße 東京 データ 검색 città señal"
).split()

#: event names hitting every route: errors (contains), db (prefix), retries
#: (equals) and the default sink; "exception"/"timeout"/"debug" also drive
#: the severity_by_event_name branch
EVENT_NAMES = (
    "exception", "http.error", "database connection error", "db.query",
    "backend.db.write_item.success", "db.txn.commit", "retry", "retry.scheduled",
    "request.timeout", "cache.miss", "user.login", "debug.trace", "custom",
)
_SPAN_KINDS = ("Server", "Client", "Internal", "Producer", "Consumer")
_SEV_TEXTS = ("WARN", "error2", "warning3", "Info", "fatal4", "trace1", "loud", "")
_LEVELS = ("warn", "ERROR", "debug3", "bogus", "info")


def _zipf_cum(n: int, a: float) -> list[float]:
    acc, cum = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**a
        cum.append(acc)
    return [c / acc for c in cum]


def _nudge_to_total(rng: random.Random, counts: list[int], total: int, lo: int, hi: int) -> None:
    """Move random entries by one, within [lo, hi], until they sum to total."""
    diff = total - sum(counts)
    step = 1 if diff > 0 else -1
    while diff:
        i = rng.randrange(len(counts))
        if lo <= counts[i] + step <= hi:
            counts[i] += step
            diff -= step


def _corpus(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n_words))


def _slice(rng: random.Random, corpus: str, n_chars: int) -> str:
    start = rng.randrange(0, len(corpus) - n_chars)
    return corpus[start:start + n_chars].strip() or "x"


# -- markers and adversarial pages -------------------------------------------


def _span_event(name, attrs, span, res, ts_ns) -> SpanEvent:
    trace_id, span_id, span_name, kind, span_attrs = span
    return SpanEvent(
        trace_id=trace_id, span_id=span_id, span_name=span_name, span_kind=kind,
        trace_state="", ts_ns=ts_ns, name=name, attrs=attrs,
        span_attrs=span_attrs, res_attrs=res,
    )


def _new_span(rng: random.Random, i: int, k: int) -> tuple:
    return (
        f"{rng.getrandbits(128):032x}",
        f"{rng.getrandbits(64):016x}",
        f"op-{rng.randrange(40)}",
        rng.choice(_SPAN_KINDS),
        {"http.method": rng.choice(("GET", "POST", "PUT")),
         "http.route": f"/api/v{k}/{rng.randrange(10_000)}",
         "span.seq": i * 8 + k},
    )


def _dense_attrs(rng: random.Random, name: str) -> dict:
    """Unique per-event values (request ids, messages) plus one severity
    source picked so every branch of the severity chain is hit."""
    attrs: dict = {
        "request.id": f"{rng.getrandbits(64):016x}",
        "duration_ms": rng.randrange(1, 5_000),
    }
    if rng.random() < 0.6:
        attrs["message"] = f"{name} handled request {rng.getrandbits(32):08x} in {rng.randrange(900)} ms"
    branch = rng.randrange(6)
    if branch == 0:  # attribute_mappings.severity_number (int32 wrap sometimes)
        attrs["sev.num"] = rng.choice((rng.randrange(1, 25), 2**33 + rng.randrange(1, 25), 0, 99))
        if rng.random() < 0.3:
            attrs["sev.text"] = rng.choice(_SEV_TEXTS)
    elif branch == 1:  # attribute_mappings.severity_text
        attrs["sev.text"] = rng.choice(_SEV_TEXTS)
    elif branch == 2:  # severity_attribute
        attrs["log.level"] = rng.choice(_LEVELS)
    elif branch == 3:  # wrong type on every source: falls through
        attrs["sev.num"] = "seven"
        attrs["log.level"] = rng.randrange(10)
    if rng.random() < 0.1:
        attrs["level"] = "preset"  # add_level must not overwrite it
    return attrs


def _corrupt(marker: str, rng: random.Random) -> bytes:
    """A marker that matches the grammar but fails to decode: invalid
    UTF-8 in the event-name field, or invalid attribute JSON."""
    raw = marker.encode("utf-8")
    if rng.random() < 0.5:
        head, sep, tail = raw.partition(b" name=")
        return head + sep + b"bad\xff\xfe" + tail
    head, sep, tail = raw.partition(b" attrs={")
    return head + sep + b'"broken":,' + tail


# -- pages ---------------------------------------------------------------------


@dataclass
class _Page:
    url: str
    warc_ts_us: int
    html: bytes
    lang: str | None


def _crawl_pages(rng: random.Random, first: int, n: int) -> list[_Page]:
    corpus = _corpus(rng, 40_000)
    domains = _zipf_cum(400, 1.1)
    # heavy-tailed html sizes: lognormal, capped at 400 KB
    raw = [rng.lognormvariate(9.9, 0.8) for _ in range(n)]
    k = CRAWL_MEAN_HTML * n / sum(raw)
    targets = [int(min(400_000, max(3_000, x * k))) for x in raw]
    pages = []
    for i, target in enumerate(targets, first):
        dom = bisect.bisect_left(domains, rng.random())
        url = f"https://news{dom}.example.org/{rng.randrange(10**6)}/article-{i}"
        parts = [f"<html><head><title>{_slice(rng, corpus, 60)}</title></head><body>".encode()]
        size = 0
        no_p = rng.random() < 0.01
        bad_utf8 = rng.random() < 0.005
        while size < target:
            n_chars = rng.randrange(200, 2_000)
            text = _slice(rng, corpus, n_chars)
            if no_p or rng.random() < 0.35:
                chunk = f'<div class="nav"><a href="/x/{rng.randrange(999)}">{text}</a></div>'
            else:
                chunk = f"<p>{text}</p>"
            parts.append(chunk.encode())
            size += len(chunk)
        if bad_utf8 and not no_p:
            parts.insert(1, b"<p>mojibake \xc3\x28 here</p>")
        r = rng.random()
        if r < 0.012:
            span = _new_span(rng, i, 0)
            res = {"service.name": f"news{dom}"}
            for j in range(1 + (r < 0.004)):
                name = rng.choice(EVENT_NAMES)
                ev = _span_event(name, {"req": f"{rng.getrandbits(32):08x}", "n": j}, span, res,
                                 BASE_TS_NS + i * 1_000_000 + j)
                m = render_marker(ev)
                parts.insert(rng.randrange(1, len(parts)),
                             _corrupt(m, rng) if r < 0.002 else m.encode())
        parts.append(b"</body></html>")
        pages.append(_Page(url, BASE_TS_NS // 1000 + i * 1_000_000, b"".join(parts),
                           rng.choice(("en", "de", "fr", "ja", None))))
    return pages


def _dense_pages(rng: random.Random, first: int, n: int) -> list[_Page]:
    corpus = _corpus(rng, 20_000)
    domains = _zipf_cum(3000, 1.3)
    # 5-40 markers per page, heavy tail
    n_events = [min(40, 2 + int(rng.paretovariate(1.4) * 3)) for _ in range(n)]
    _nudge_to_total(rng, n_events, DENSE_MEAN_EVENTS * n, 5, 40)
    pages = []
    for i, n_ev in enumerate(n_events, first):
        dom = bisect.bisect_left(domains, rng.random())
        url = f"https://app{dom}.example.com/v/{rng.randrange(10**6)}/{i}"
        spans = [_new_span(rng, i, k) for k in range(1 + n_ev // 8)]
        res = {"service.name": f"svc-{dom % 64}", "host.name": f"host-{rng.randrange(32)}"}
        corrupt_at = rng.randrange(n_ev) if rng.random() < 0.01 else -1
        no_p = rng.random() < 0.01
        parts = [b"<html><body>"]
        for j in range(n_ev):
            name = rng.choice(EVENT_NAMES)
            ev = _span_event(name, _dense_attrs(rng, name), rng.choice(spans), res,
                             BASE_TS_NS + i * 1_000_000_000 + j * 1_000)
            m = render_marker(ev)
            parts.append(_corrupt(m, rng) if j == corrupt_at else m.encode())
            if not no_p and j % 6 == 0:
                parts.append(f"<p>{_slice(rng, corpus, rng.randrange(40, 300))}</p>".encode())
        parts.append(b"</body></html>")
        pages.append(_Page(url, BASE_TS_NS // 1000 + i * 1_000_000, b"".join(parts),
                           rng.choice(("en", "de", None))))
    return pages


# -- oracle expectations --------------------------------------------------------


def record_key(url, event_name, ts_ns, sev_num, sev_text, body, attrs, res_attrs,
               trace_id, span_id, sink) -> list:
    """Canonical, order-insensitive form of one routed row (JSON-safe)."""
    return [url, event_name, ts_ns, sev_num, sev_text, body,
            sorted(attrs.items()), sorted(res_attrs.items()), trace_id, span_id, sink]


def text_digest(pairs) -> str:
    """Order-insensitive digest of (url, sha256-of-text or None) pairs."""
    h = hashlib.sha256()
    for url, sha in sorted(pairs, key=lambda p: p[0]):
        h.update(f"{url}\t{sha}\n".encode())
    return h.hexdigest()


def _oracle(workload: str, pages: list[_Page]) -> list[tuple]:
    """Per page: (page, extracted text or None, records, error class or None)."""
    cfg = config_for(workload)
    out = []
    for p in pages:
        try:
            text, recs = process_page(cfg, p.url, p.html, OBSERVED_TS_US)
        except (UnicodeDecodeError, ValueError) as exc:
            out.append((p, None, [], type(exc).__name__))
            continue
        out.append((p, text, recs, None))
    return out


def _sample_order(url: str) -> bytes:
    """A fixed, seed-independent rule picks the url sample: the smallest
    url hashes among the pages that route rows."""
    return hashlib.md5(url.encode()).digest()


def _summary(results: list[tuple]) -> dict:
    """The oracle's answers over one chunk, in a form that merges."""
    per_sink: Counter = Counter()
    per_sev: Counter = Counter()
    per_domain: Counter = Counter()
    quarantine = Counter(err for _, _, _, err in results if err)
    zero_event = 0
    texts = []
    routed = []
    for p, text, recs, err in results:
        texts.append((p.url, None if err else hashlib.sha256(text.encode()).hexdigest()))
        if err:
            continue
        if not recs:
            zero_event += 1
            continue
        routed.append((p.url, recs))
        host = urlsplit(p.url).hostname
        for r in recs:
            per_sink[r.sink] += 1
            per_sev[f"{r.severity_number}:{r.severity_text}"] += 1
            per_domain[f"{r.sink}|{host}"] += 1
    sample = sorted(routed, key=lambda ur: _sample_order(ur[0]))[:SAMPLE_URLS]
    return {
        "pages": len(results),
        "per_sink": per_sink,
        "per_severity": per_sev,
        "per_domain": per_domain,
        "quarantine_classes": quarantine,
        "zero_event_pages": zero_event,
        "texts": texts,
        "sample_rows": {
            url: [record_key(r.url, r.event_name, r.ts_ns, r.severity_number, r.severity_text,
                             r.body, r.attributes, r.resource_attributes, r.trace_id,
                             r.span_id, r.sink) for r in recs]
            for url, recs in sample
        },
    }


def _merge(summaries: list[dict]) -> dict:
    counters = ("per_sink", "per_severity", "per_domain", "quarantine_classes")
    total = {k: Counter() for k in counters}
    sample: dict[str, list] = {}
    texts: list = []
    for s in summaries:
        for k in counters:
            total[k].update(s[k])
        sample.update(s["sample_rows"])
        texts += s["texts"]
    keep = sorted(sorted(sample, key=_sample_order)[:SAMPLE_URLS])
    return {
        "pages": sum(s["pages"] for s in summaries),
        "records": sum(total["per_sink"].values()),
        **{k: dict(c) for k, c in total.items()},
        "quarantined": sum(total["quarantine_classes"].values()),
        "zero_event_pages": sum(s["zero_event_pages"] for s in summaries),
        "sample_rows": {u: sample[u] for u in keep},
        "text_digest": text_digest(texts),
    }


def _write_pages(pages: list[_Page], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    table = pa.table({
        "url": [p.url for p in pages],
        "warc_ts": [p.warc_ts_us for p in pages],
        "html": [p.html for p in pages],
        # the crawler's own text column; the pipeline never reads it
        "text": [None] * len(pages),
        "lang": [p.lang for p in pages],
    }, schema=schema)
    pq.write_table(table, path)


def _chunk(workload: str, seed: int, chunk: int, n: int, pages_dir: str) -> dict:
    """Build one chunk of pages from its own random stream, write it as one
    parquet file and return the oracle's answers over it."""
    rng = random.Random(f"{workload}:{seed}:{chunk}")
    make = _crawl_pages if workload == "crawl_text" else _dense_pages
    pages = make(rng, chunk * n, n)
    _write_pages(pages, os.path.join(pages_dir, f"part-{chunk:05d}.parquet"))
    return _summary(_oracle(workload, pages))


def ensure_inputs(workload: str, seed: int, cache_root: str, scale: float = 1.0,
                  workers: int = GEN_WORKERS) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one (workload, seed, scale).

    Returns (directory, expectations); the directory holds the ``pages``.
    It is built under a temporary name and renamed into place, so an
    interrupted run never leaves a half-written cache entry behind. With
    ``workers`` > 1 the chunks are built in forked processes, so call it
    from a process that runs no JVM gateway."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    key = f"{workload}-s{seed}-x{scale:g}-v{GEN_VERSION}"
    final = os.path.join(cache_root, key)
    expect_path = os.path.join(final, "expect.json")
    if not os.path.exists(expect_path):
        total = CRAWL_PAGES if workload == "crawl_text" else DENSE_PAGES
        per_chunk = max(1, int(total * scale) // FILES)
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        pages_dir = os.path.join(tmp, "pages")
        os.makedirs(pages_dir)
        args = [(workload, seed, c, per_chunk, pages_dir) for c in range(FILES)]
        if workers > 1:
            with ProcessPoolExecutor(workers) as pool:
                summaries = list(pool.map(_chunk, *zip(*args)))
        else:
            summaries = [_chunk(*a) for a in args]
        with open(os.path.join(tmp, "expect.json"), "w") as fh:
            json.dump(_merge(summaries), fh)
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
    with open(expect_path) as fh:
        return final, json.load(fh)


if __name__ == "__main__":
    import sys

    # python3 gen.py <workload> <seed> <cache_root> <scale>: fill the cache
    ensure_inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3], float(sys.argv[4]))
