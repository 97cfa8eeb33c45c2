"""Spark end-to-end pipeline vs the pure-Python oracle on tiny synthetic
webpages (FIXTURES.md `tiny` scale): per-sink counts, routed-row equality,
byte-identical extracted text."""

import os
from collections import Counter

import pytest

from weblog_pipeline.config import DEFAULT_ROUTES, PipelineConfig
from weblog_pipeline.enrich import attrs_rendered
from weblog_pipeline.generate import gen_page
from weblog_pipeline.oracle import process_page, render_attrs
from weblog_pipeline.pipeline import build_pipeline
from weblog_pipeline.webpages import generate_webpages

N_PAGES = 200
OBS_US = 1_751_600_000_000_000


def oracle_records(cfg, n_pages=N_PAGES):
    out = []
    texts = {}
    for i in range(n_pages):
        page = gen_page(i)
        text, records = process_page(cfg, page.url, page.html, OBS_US)
        texts[page.url] = (text, page.text)
        out.extend(records)
    return texts, out


def spark_rows(spark, cfg, n_pages=N_PAGES):
    webpages = generate_webpages(spark, n_pages, partitions=4)
    result = build_pipeline(webpages, cfg, observed_ts_us=OBS_US)
    logs = result.logs.withColumn("attrs_str", attrs_rendered("attributes")).withColumn(
        "res_attrs_str", attrs_rendered("resource_attributes")
    )
    return result, logs.collect()


def record_key(url, event_name, ts_ns, sev_num, sev_text, body, attrs_str,
               res_attrs_str, trace_id, span_id, sink):
    return (url, event_name, ts_ns, sev_num, sev_text, body, attrs_str,
            res_attrs_str, trace_id, span_id, sink)


def to_keys_oracle(records):
    return Counter(
        record_key(
            r.url, r.event_name, r.ts_ns, r.severity_number, r.severity_text,
            r.body, render_attrs(r.attributes), render_attrs(r.resource_attributes),
            r.trace_id, r.span_id, r.sink,
        )
        for r in records
    )


def to_keys_spark(rows):
    return Counter(
        record_key(
            r.url, r.event_name, r.ts_ns, r.severity_number, r.severity_text,
            r.body, r.attrs_str, r.res_attrs_str, r.trace_id, r.span_id, r.sink,
        )
        for r in rows
    )


@pytest.mark.parametrize(
    "cfg",
    [
        PipelineConfig(),  # C0 defaults
        PipelineConfig(log_attributes_from=("event.attributes",)),  # C1
        PipelineConfig(  # kitchen sink: every enrichment knob on
            log_attributes_from=(
                "event.attributes",
                "span.attributes",
                "resource.attributes",
            ),
            add_level=True,
            severity_attribute="log.level",
            severity_by_event_name=(
                ("exception", "error"),
                ("connection error", "fatal"),
                ("error", "error2"),
            ),
        ),
        PipelineConfig(  # attribute_mappings full (C3-ish) + filter
            include_event_names=("backend.db.write_item.success", "retry"),
            attribute_mappings=__import__(
                "weblog_pipeline.config", fromlist=["AttributeMappings"]
            ).AttributeMappings(
                body="event.body",
                severity_number="event.severity_number",
                severity_text="event.severity_text",
                event_name="event.name",
            ),
        ),
        PipelineConfig(include_span_context=False),
    ],
    ids=["defaults", "event-attrs-only", "kitchen-sink", "mappings+filter", "no-span-ctx"],
)
def test_routed_row_equality(spark, cfg):
    _, rows = spark_rows(spark, cfg)
    _, oracle = oracle_records(cfg)
    assert to_keys_spark(rows) == to_keys_oracle(oracle)


def test_per_sink_counts_and_text(spark):
    cfg = PipelineConfig()
    result, rows = spark_rows(spark, cfg)

    texts, oracle = oracle_records(cfg)
    expected_counts = Counter(r.sink for r in oracle)
    got_counts = {r["sink"]: r["records"] for r in result.per_sink.collect()}
    assert got_counts == dict(expected_counts)

    # byte-identical extracted text per url (north-rule invariant)
    got_texts = {r["url"]: r["page_text"] for r in result.texts.collect()}
    assert len(got_texts) == N_PAGES
    for url, (oracle_text, input_text) in texts.items():
        assert got_texts[url] == oracle_text == input_text

    # zero parse errors
    assert result.texts.where("parse_error is not null").count() == 0


def test_include_event_names_zero_output(spark):
    cfg = PipelineConfig(include_event_names=("nonexistent_event",))
    result, rows = spark_rows(spark, cfg, n_pages=60)
    assert rows == []
    # empty-output suppression: no sink groups at all (O19/O4)
    assert result.per_sink.count() == 0
    # but texts still extracted (page grain unaffected)
    assert result.texts.count() == 60


@pytest.mark.parametrize(
    "ts,attrs,error",
    [
        (b"1", b"{not-json}", "JSONDecodeError"),
        # one int outside int64 fails only its own page, as in the oracle
        (b"1", b'{"n":1180591620717411303424}', "OverflowError"),
        (b"1180591620717411303424", b"{}", "OverflowError"),
    ],
    ids=["json", "attr-int-overflow", "ts-overflow"],
)
def test_corrupt_marker_quarantined(spark, ts, attrs, error):
    """A page with an unparseable marker must not fail the task: it yields
    a parse_error row, contributes no events, and other pages are fine."""
    from weblog_pipeline.markers import parse_markers
    from weblog_pipeline.webpages import WEBPAGES_SCHEMA

    good = gen_page(11)
    bad_html = (
        b"<p>fine</p><!--otel span_ctx=" + b"a" * 32 + b"/" + b"b" * 16
        + b"/s/k ts=" + ts + b" name=x attrs=" + attrs + b" span_attrs={} res_attrs={}-->"
    )
    with pytest.raises(Exception) as oracle_error:
        parse_markers(bad_html)
    assert type(oracle_error.value).__name__ == error

    df = spark.createDataFrame(
        [
            (good.url, None, bytearray(good.html), good.text, "en"),
            ("https://bad.example.com/x", None, bytearray(bad_html), "fine", "en"),
        ],
        schema=WEBPAGES_SCHEMA,
    )
    result = build_pipeline(df, PipelineConfig(), observed_ts_us=OBS_US)
    texts = {r["url"]: r for r in result.texts.collect()}
    bad = texts["https://bad.example.com/x"]
    assert bad["parse_error"].startswith(f"{error}: ")
    assert bad["page_text"] is None and bad["n_page_events"] == 0
    # the good page still produced its records
    logs = result.logs.collect()
    assert {r["url"] for r in logs} == {good.url}
    assert len(logs) == 5


def test_domain_counts(spark):
    cfg = PipelineConfig()
    webpages = generate_webpages(spark, N_PAGES, partitions=4)
    result = build_pipeline(webpages, cfg, observed_ts_us=OBS_US)
    got = {
        (r["sink"], r["domain"]): r["records"] for r in result.per_domain.collect()
    }
    _, oracle = oracle_records(cfg)
    expected = Counter(
        (r.sink, r.url.split("/")[2]) for r in oracle
    )
    assert got == dict(expected)


def test_salted_skew_join_matches_plain_join(spark):
    from pyspark.sql import functions as F

    from weblog_pipeline.aggregate import salted_skew_join

    # heavy-tail key: 80% of fact rows share key 0
    fact = spark.range(1000).selectExpr(
        "CASE WHEN id % 5 < 4 THEN 0 ELSE id % 7 END AS k",
        "id AS row_id",
    )
    dim = spark.range(7).selectExpr("id AS k", "concat('d', id) AS label")
    got = salted_skew_join(fact, dim, key="k", salt_col="row_id", salt_buckets=8)
    want = fact.join(dim, "k")
    assert got.count() == want.count() == 1000
    g = {(r["row_id"], r["label"]) for r in got.collect()}
    w = {(r["row_id"], r["label"]) for r in want.collect()}
    assert g == w
    # plan: the shuffle key must include the salt so the head key spreads
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan


def test_salted_skew_join_rejects_dim_preserving_how(spark):
    import pytest as _pytest

    from weblog_pipeline.aggregate import salted_skew_join

    fact = spark.range(5).selectExpr("id AS k", "id AS row_id")
    dim = spark.range(9).selectExpr("id AS k", "id AS v")
    with _pytest.raises(ValueError, match="fact-preserving"):
        salted_skew_join(fact, dim, key="k", salt_col="row_id", how="full")


def test_spark_submit_pyfiles_launch_path(tmp_path):
    """The north-rule launch path, end-to-end as a black box: package
    src/ into pipeline.zip (scripts/package.sh), launch main.py via
    spark-submit --py-files in a FRESH JVM (no PYTHONPATH leakage of
    src/), and assert the job prints the observed per-sink counts and
    writes the partitioned sink dirs."""
    import glob
    import json
    import shutil
    import subprocess

    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    subprocess.run(
        ["bash", os.path.join(repo, "scripts", "package.sh")],
        check=True, capture_output=True,
    )
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", os.path.join(repo, "pipeline.zip"),
            "--conf", "spark.sql.mapKeyDedupPolicy=LAST_WIN",
            "--conf", "spark.sql.session.timeZone=UTC",
            os.path.join(repo, "main.py"),
            "--generate", "400",
            "--output", out_dir,
            "--write-texts",
        ],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    report = json.loads(line)
    assert report["observed_records"] > 0
    assert sum(report["per_sink_counts"].values()) == report["observed_records"]
    # pages in come from the write's own scan, not a second count of the input
    assert report["pages_in"] == 400
    # both writes read the chunk's one cached parse, in workers that import
    # the package from pipeline.zip
    texts = glob.glob(os.path.join(out_dir, "page_texts", "**", "*.parquet"), recursive=True)
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in texts) == 400
    sink_dirs = [
        d for d in os.listdir(os.path.join(out_dir, "log_records"))
        if d.startswith("sink=")
    ]
    assert len(sink_dirs) >= 2


def test_parse_task_trims_worker_importers(spark):
    """After a parse task the worker holds at most one zipimporter per
    archive, all of them archive roots on sys.path, and no .jar path entry;
    a pyspark submodule not yet imported still imports from the zip after
    the next task's importlib.invalidate_caches()."""
    import json

    def probe(batches):
        import importlib
        import sys
        import zipimport
        from collections import Counter

        import pyarrow as pa

        from weblog_pipeline.parse import _parse_arrow_batches

        for _ in _parse_arrow_batches(batches):
            pass
        zips = {k: f.archive for k, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)}
        state = {
            "per_archive": max(Counter(zips.values()).values(), default=0),
            "off_path": [k for k in zips if k not in sys.path],
            "jars": [p for p in sys.path if p.endswith(".jar")],
        }
        # what the worker does before its next task, then a fresh import
        importlib.invalidate_caches()
        fresh = [m for m in ("pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions",
                             "pyspark.mllib.common") if m not in sys.modules][:1]
        state["fresh"] = [importlib.import_module(m).__file__ for m in fresh]
        yield pa.RecordBatch.from_pydict({"state": [json.dumps(state)]})

    pages = generate_webpages(spark, 40, partitions=1).select("url", "warc_ts", "html", "lang")
    [row] = pages.mapInArrow(probe, "state string").collect()
    state = json.loads(row["state"])
    assert state["per_archive"] <= 1 and not state["off_path"] and not state["jars"]
    assert len(state["fresh"]) == 1 and ".zip" in state["fresh"][0]

    def fresh_import(batches):
        import importlib
        import sys

        import pyarrow as pa

        for _ in batches:
            pass
        left = [m for m in ("pyspark.sql.protobuf.functions", "pyspark.mllib.common",
                            "pyspark.ml.param") if m not in sys.modules][:1]
        yield pa.RecordBatch.from_pydict(
            {"file": [importlib.import_module(m).__file__ for m in left]})

    [row] = spark.range(0, 1, 1, 1).mapInArrow(fresh_import, "file string").collect()
    assert ".zip" in row["file"]


def test_parse_arrow_map_assembly_memo_and_sentinels(spark):
    """Focused guard for the mapInArrow parse internals: repeated attr
    payloads (the byte-level memo path), zero-event sentinel pages (NULL
    map entries via null offsets, not empty maps), and str/int/bool attr
    splitting must all survive the flat-buffer map assembly."""
    from weblog_pipeline.parse import parse_events
    from weblog_pipeline.webpages import WEBPAGES_SCHEMA

    # raw markers (render_marker rejects bools by design; the parser must
    # still split raw-JSON bools into their canonical string form)
    shared = '{"n":7,"retry":true,"svc":"web"}'
    attrs = '{"flag":false,"i":-3,"k":"v"}'
    ev = lambda i, a: (
        f"<!--otel span_ctx={'a'*32}/{'b'*16}/s/k ts={1000+i} name=ev{i}"
        f" attrs={a} span_attrs={shared} res_attrs={shared}-->"
    )
    html1 = ("<p>one</p>" + ev(0, attrs) + ev(1, attrs)).encode()
    html2 = b"<p>no events here</p>"
    html3 = ("<p>three</p>" + ev(2, "{}")).encode()
    df = spark.createDataFrame(
        [("u1", None, bytearray(html1), "one", "en"),
         ("u2", None, bytearray(html2), "no events here", "de"),
         ("u3", None, bytearray(html3), "three", "fr")],
        schema=WEBPAGES_SCHEMA,
    )
    rows = {(r["url"], r["event_idx"]): r for r in parse_events(df).collect()}
    assert set(rows) == {("u1", 0), ("u1", 1), ("u2", -1), ("u3", 0)}
    r = rows[("u1", 0)]
    assert r["event_attrs_s"] == {"k": "v", "flag": "false"}
    assert r["event_attrs_i"] == {"i": -3}
    assert r["span_attrs"] == {"svc": "web", "retry": "true", "n": "7"}
    assert r["res_attrs"] == {"svc": "web", "retry": "true", "n": "7"}
    assert r["page_text"] == "one" and rows[("u1", 1)]["page_text"] is None
    # memoized second event must carry the SAME values, not a shifted slice
    assert rows[("u1", 1)]["event_attrs_s"] == {"k": "v", "flag": "false"}
    assert rows[("u1", 1)]["event_attrs_i"] == {"i": -3}
    s = rows[("u2", -1)]
    assert s["event_attrs_s"] is None and s["event_attrs_i"] is None
    assert s["span_attrs"] is None and s["res_attrs"] is None
    assert s["n_page_events"] == 0 and s["lang"] == "de"
    # empty attrs -> EMPTY map (not NULL) on a real event row
    assert rows[("u3", 0)]["event_attrs_s"] == {}
    assert rows[("u3", 0)]["event_attrs_i"] == {}
