"""Correctness gates: every timed unit is checked against the oracle
answers that ``gen`` stored next to the input. Each check returns a list of
problems; an empty list means the unit passed."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

from gen import OBSERVED_TS_US, record_key, text_digest


def _diff(what: str, got: dict, want: dict) -> list[str]:
    if got == want:
        return []
    keys = sorted(set(got) | set(want))
    bad = [f"{k}: got {got.get(k)} want {want.get(k)}" for k in keys if got.get(k) != want.get(k)]
    return [f"{what} differ ({len(bad)}): " + "; ".join(bad[:5])]


def check_counts(counts: dict, expect: dict) -> list[str]:
    """The per-sink counts ``run_to_sinks`` returns."""
    return _diff("per-sink counts", {k: int(v) for k, v in counts.items()}, expect["per_sink"])


def _dataset(out_dir: str, name: str):
    """One sink table as written, opened with pyarrow rather than by the
    Spark session under test; the sink partition comes from its directory
    names. None when the job wrote no data file."""
    import pyarrow.dataset as ds

    path = os.path.join(out_dir, name)
    table = ds.dataset(path, format="parquet", partitioning="hive") if os.path.isdir(path) else None
    return table if table is not None and table.files else None


def _table(out_dir: str, name: str, columns: list[str]):
    return _dataset(out_dir, name).to_table(columns=columns)


def check_job_output(out_dir: str, expect: dict, write_texts: bool) -> list[str]:
    """Read the sink tables back: when texts are written, the quarantine
    classes; then per-severity counts, the fixed observed timestamp and the
    routed rows of the fixed url sample. (A quarantined or zero-event page that
    leaked rows would also move the per-sink and per-severity counts.)"""
    import pyarrow as pa
    import pyarrow.compute as pc

    problems = []
    if write_texts:
        errors = _table(out_dir, "page_texts", ["parse_error"])["parse_error"].drop_null()
        classes = Counter(e.split(":", 1)[0] for e in errors.to_pylist())
        problems += _diff("quarantine classes", dict(classes), expect["quarantine_classes"])
    if _dataset(out_dir, "log_records") is None:
        # a job that routes no rows writes no data file
        return problems + ([f"log_records is empty, want {expect['records']} rows"]
                           if expect["records"] else [])

    cols = ["url", "event_name", "ts_ns", "severity_number", "severity_text", "body",
            "attributes", "resource_attributes", "trace_id", "span_id", "sink"]
    logs = _table(out_dir, "log_records", cols + ["observed_ts"])
    sev = Counter(f"{n}:{t}" for n, t in zip(logs["severity_number"].to_pylist(),
                                             logs["severity_text"].to_pylist()))
    problems += _diff("per-severity counts", dict(sev), expect["per_severity"])

    observed = pc.cast(logs["observed_ts"], pa.timestamp("us", tz="UTC")).cast(pa.int64())
    if pc.any(pc.not_equal(observed, OBSERVED_TS_US)).as_py():
        problems.append("observed_ts differs from the fixed observed_ts_us")

    sample = expect["sample_rows"]
    rows = logs.filter(pc.is_in(logs["url"], pa.array(list(sample)))).select(cols).to_pylist()
    # pyarrow hands map columns out as lists of (key, value) pairs
    got = Counter(
        json.dumps(record_key(*(dict(r[c]) if c.endswith("attributes") else r[c] for c in cols)))
        for r in rows
    )
    want = Counter(json.dumps(row) for rows in sample.values() for row in rows)
    if got != want:
        problems.append(
            f"routed rows of the url sample differ: {sum((got - want).values())} unexpected, "
            f"{sum((want - got).values())} missing"
        )
    return problems


def check_text_digest(out_dir: str, expect: dict) -> list[str]:
    """Digest of (url, sha256 of the extracted text) over every page."""
    import pyarrow as pa

    texts = _table(out_dir, "page_texts", ["url", "page_text"])
    if texts.num_rows != expect["pages"]:
        return [f"page_texts rows: got {texts.num_rows} want {expect['pages']}"]
    # the text's bytes as written, so invalid UTF-8 would still hash
    raw = texts["page_text"].cast(pa.binary()).to_pylist()
    pairs = ((u, None if t is None else hashlib.sha256(t).hexdigest())
             for u, t in zip(texts["url"].to_pylist(), raw))
    if text_digest(pairs) != expect["text_digest"]:
        return ["extracted-text digest differs from the oracle"]
    return []


def check_aggregates(domain_rows, sink_rows, expect: dict) -> list[str]:
    """Collected ``domain_counts`` and ``sink_counts`` rows."""
    domains = {f"{r['sink']}|{r['domain']}": int(r["records"]) for r in domain_rows}
    sinks = {r["sink"]: int(r["records"]) for r in sink_rows}
    return (_diff("per-(sink, domain) counts", domains, expect["per_domain"])
            + _diff("per-sink counts", sinks, expect["per_sink"]))


def check_reuse(stats: dict) -> list[str]:
    """A unit whose jobs skipped a stage read shuffle files an earlier
    action left behind, so its time does not measure the job."""
    if stats.get("reused_stages", 0):
        return [f"{stats['reused_stages']} stage(s) skipped: shuffle files reused from an earlier action"]
    if not stats.get("jobs", 0):
        return ["no Spark job ran in the timed unit"]
    return []
