"""Plan-shape guards for the scale-critical operators: these assert the
PHYSICAL plan Catalyst picks, not just the results — a correct answer from
a cartesian product or a single-reducer window would pass value checks yet
die at 100x the data."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from weblog_pipeline.ops import similarity


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(5)
    vecs = rng.randn(60, 16).astype("float32")
    vecs[9] = vecs[4] * 1.001  # planted near-dup pair (4, 9)
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in vecs[i]]) for i in range(60)]
    )


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_topk_group_limited(plan: str) -> None:
    """The scale property of every top-k cut: no task ranks a whole group.
    Each row_number Window must sit either on `WindowGroupLimit ... Final`
    whose Sort reads an Exchange fed by `WindowGroupLimit ... Partial`
    (each map task keeps k rows per group before the shuffle), or on a
    TakeOrderedAndProject (per-partition heaps, then k rows). Spark plans
    this only for `row_number() <= literal k` with k at most
    spark.sql.optimizer.windowGroupLimitThreshold."""
    lines = [ln.lstrip(" :|+-") for ln in plan.splitlines()]
    wins = [i for i, ln in enumerate(lines) if ln.startswith("Window [row_number()")]
    assert wins, plan
    for i in wins:
        child = lines[i + 1]
        if child.startswith("TakeOrderedAndProject"):
            continue
        assert child.startswith("WindowGroupLimit") and child.endswith(
            ", Final"
        ), f"rank window not group-limited:\n{plan}"
        sort, exchange, partial = lines[i + 2 : i + 5]
        assert sort.startswith("Sort"), plan
        assert exchange.startswith("Exchange hashpartitioning"), plan
        assert partial.startswith("WindowGroupLimit") and partial.endswith(
            ", Partial"
        ), plan


def test_neardup_plan_has_no_cartesian_product(emb_df):
    df = similarity.cosine_near_dup_pairs(emb_df, threshold=0.9, dim=16)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # candidates come from the band-bucket equi-join
    assert "band" in plan and "bucket" in plan


def test_neardup_bucketed_is_subset_of_exact_and_finds_planted_pair(emb_df):
    exact = {
        (r["id_a"], r["id_b"]): r["cos_r6"]
        for r in similarity.cosine_near_dup_pairs_exact(emb_df, 0.9).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"]): r["cos_r6"]
        for r in similarity.cosine_near_dup_pairs(emb_df, 0.9, dim=16).collect()
    }
    assert set(bucketed) <= set(exact)
    for pair, cos in bucketed.items():
        assert cos == exact[pair]  # same exact re-rank math on candidates
    # a ~parallel vector always collides in every band (same projections)
    assert (4, 9) in bucketed


def test_topk_uses_two_phase_window(emb_df):
    """The per-query rank is Spark's two-phase group limit: a partial cut
    per map task before the shuffle, the final one after it."""
    q = emb_df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _physical(similarity.brute_force_topk(emb_df, q, k=3))
    _assert_topk_group_limited(plan)


def test_topk_matches_python_sort(spark):
    """aggregate.topk against a Python sort, per group and globally. One
    group holds more rows than k x partitions, so the partial cuts of
    several map tasks must merge; the score ties often, so the order's
    last column decides; one group has fewer rows than k."""
    from weblog_pipeline.aggregate import topk

    k = 5
    rows = [(0, i % 7, i) for i in range(200)]  # the hot group
    rows += [(g, (g * i) % 3, 1000 * g + i) for g in (1, 2) for i in range(9)]
    rows += [(3, 1, 3000), (3, 1, 3001)]  # fewer rows than k
    df = spark.createDataFrame(rows, "g long, score long, id long").repartition(
        8, "id"
    )
    order = [F.col("score").desc(), F.col("id").asc()]

    def cut(rs):
        rs = sorted(rs, key=lambda r: (-r[1], r[2]))[:k]
        return [(n + 1, r[2]) for n, r in enumerate(rs)]

    want = {
        (g, rank, i)
        for g in {r[0] for r in rows}
        for rank, i in cut([r for r in rows if r[0] == g])
    }
    got = {
        (r["g"], r["rank"], r["id"])
        for r in topk(df, k, order, by=["g"]).collect()
    }
    assert got == want
    assert len([t for t in got if t[0] == 3]) == 2
    got_all = [(r["rank"], r["id"]) for r in topk(df, k, order).collect()]
    assert sorted(got_all) == cut(rows)


def _topk_operators():
    """Every catalog operator whose top-k cut goes through aggregate.topk,
    as name -> plan of (emb, queries, docs, events)."""
    from weblog_pipeline import aggregate
    from weblog_pipeline.ops import corpus, graph, retrieval, textstats

    qv = lambda q: q.select("query_id", "query_vec")  # noqa: E731
    return {
        "anchor_topk": lambda e, q, d, v: graph.anchor_topk(
            d.select(F.col("lang").alias("dst_host"), F.col("text").alias("anchor"))
        ),
        "textrank_keywords": lambda e, q, d, v: graph.textrank_keywords(d, k=3),
        "brute_force_topk": lambda e, q, d, v: similarity.brute_force_topk(e, qv(q), k=3),
        "lsh_topk": lambda e, q, d, v: similarity.lsh_topk(e, qv(q), k=3, dim=16),
        "ivf_topk": lambda e, q, d, v: similarity.ivf_topk(
            e, qv(q), k=3, n_cells=4, n_probe=2
        ),
        "pq_adc_topk": lambda e, q, d, v: similarity.pq_adc_topk(e, qv(q), k=3),
        "pq_adc_topk_rerank": lambda e, q, d, v: similarity.pq_adc_topk(
            e, qv(q), k=3, rerank=10
        ),
        "hamming_topk": lambda e, q, d, v: similarity.hamming_topk(e, k=3),
        "matryoshka_recall": lambda e, q, d, v: similarity.matryoshka_recall(
            e, qv(q), k=3, prefix=8
        ),
        "hard_negatives": lambda e, q, d, v: similarity.hard_negatives(e, q, k=3),
        "knn_label_eval": lambda e, q, d, v: similarity.knn_label_eval(e, q, k=3),
        "quota_sample": lambda e, q, d, v: corpus.quota_sample(d, k=3),
        "key_skew": lambda e, q, d, v: corpus.key_skew(d, "lang", top_k=2),
        "posting_lists": lambda e, q, d, v: textstats.posting_lists(d, k=3),
        "vocab_js_drift": lambda e, q, d, v: textstats.vocab_js_drift(d, top_k=3),
        "vocab_topk": lambda e, q, d, v: textstats.vocab_topk(d, k=3),
        "bpe_pair_counts": lambda e, q, d, v: textstats.bpe_pair_counts(d, k=3),
        "tfidf_topk": lambda e, q, d, v: textstats.tfidf_topk(d, k=3),
        "pmi_collocations": lambda e, q, d, v: textstats.pmi_collocations(
            d, k=3, min_count=1
        ),
        "cms_heavy_hitters": lambda e, q, d, v: textstats.cms_heavy_hitters(d, k=3),
        "bm25_topk": lambda e, q, d, v: textstats.bm25_topk(d, ["the", "lazy"], k=3),
        "query_likelihood_topk": lambda e, q, d, v: textstats.query_likelihood_topk(
            d, ["the", "lazy"], k=3
        ),
        "prf_expansion": lambda e, q, d, v: textstats.prf_expansion(
            d, ["lazy"], r=3, k=3
        ),
        "llr_collocations": lambda e, q, d, v: textstats.llr_collocations(
            d, k=3, min_count=1
        ),
        "zipf_fit": lambda e, q, d, v: textstats.zipf_fit(d, k=3),
        "token_burstiness": lambda e, q, d, v: textstats.token_burstiness(d, k=3),
        "skipgram_counts": lambda e, q, d, v: textstats.skipgram_counts(
            d, k=3, min_count=1
        ),
        "rrf_fuse": lambda e, q, d, v: retrieval.rrf_fuse(
            {
                "a": textstats.bm25_topk(d, ["the"], k=3),
                "b": textstats.bm25_topk(d, ["lazy"], k=3),
            },
            k=3,
        ),
        "session_paths": lambda e, q, d, v: aggregate.session_paths(v),
        "kmv_audit": lambda e, q, d, v: aggregate.kmv_audit(v),
        "item_similarity": lambda e, q, d, v: aggregate.item_similarity(
            v, min_support=1
        ),
    }


@pytest.fixture(scope="module")
def topk_inputs(spark, emb_df):
    import datetime

    emb = emb_df.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, lang="ef"[i % 2], text="the quick the lazy the end")
            for i in range(12)
        ]
    )
    t0 = datetime.datetime(2025, 7, 4)
    events = spark.createDataFrame(
        [
            (i, t0 + datetime.timedelta(hours=i % 48), i % 7, "ab"[i % 2],
             1.0, f'{{"k": {i % 5}}}')
            for i in range(60)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    return emb, q, docs, events


@pytest.mark.parametrize("name", sorted(_topk_operators()))
def test_every_topk_cut_is_group_limited(topk_inputs, name):
    """One guard for all of them: a Zipf-hot group (a query over the whole
    corpus, "the" in an index, a whole language) never reaches one task
    whole, and a global top-k is a per-partition heap."""
    plan = _physical(_topk_operators()[name](*topk_inputs))
    _assert_topk_group_limited(plan)


def test_ivf_topk_has_no_distinct_exchange(emb_df):
    """(query, neighbor) pairs are unique by construction in IVF (one cell
    per corpus vector, distinct probe cells) — a distinct would add a
    redundant shuffle of the whole scored stream."""
    q = emb_df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plan = _physical(similarity.ivf_topk(emb_df, q, k=3, n_cells=4, n_probe=2))
    # a distinct would compile to a HashAggregate + an Exchange on
    # (query_id, neighbor_id, cos_r6); without it the only shuffle left
    # is the group-limited rank's, plus the probe broadcast
    assert "HashAggregate" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_equals_distinct_version(emb_df):
    """Removing the distinct must not change results: pairs were already
    unique, so top-k over the raw scored stream is identical."""
    q = emb_df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = similarity.ivf_topk(emb_df, q, k=4, n_cells=8, n_probe=3).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))  # still no duplicate pairs
    ranks = {}
    for r in rows:
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    for qid, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1))


def test_bigram_logprob_has_no_skewed_window(spark):
    """Corpus bigram/prefix counts must be groupBy aggregates (map-side
    combine absorbs Zipf skew), never unbounded windows partitioned by a
    token-frequency key — Window.partitionBy("w1") funnels every "the …"
    bigram to one task at scale."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame(
        [Row(doc_id=i, text="the quick brown fox " * 3) for i in range(4)]
    )
    plan = _physical(textstats.bigram_logprob(df))
    assert "Window" not in plan
    # counts arrive via partial-aggregate shuffles
    assert "partial_count" in plan or "HashAggregate" in plan


def test_length_quantiles_windows_the_count_domain_not_docs(spark):
    """The running-sum window must consume the per-(lang, length)
    AGGREGATE (bounded by the distinct length domain), never the raw
    document stream, and the per-lang totals join must broadcast."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame(
        [Row(doc_id=i, text="x" * (1 + i % 7), lang="en") for i in range(30)]
    )
    plan = _physical(textstats.length_quantiles(df))
    assert "BroadcastHashJoin" in plan
    # the window's input side contains an aggregate below it: every
    # Window operator in the plan text is preceded (deeper indent, later
    # lines) by a HashAggregate over (lang, length)
    win = plan.index("Window")
    assert "HashAggregate" in plan[win:]
    # doc-level columns are pruned before the window: doc_id appears only
    # in the leaf scan line (ExistingRDD lists every column), never in
    # any operator above it
    for line in plan.splitlines():
        if "doc_id" in line:
            assert "Scan ExistingRDD" in line, line


def test_parse_scan_prunes_columns_and_pushes_null_filter(spark, tmp_path):
    """The e2e scan must read ONLY the four columns the parse UDF consumes
    (never the redundant input `text`) and push `html IS NOT NULL` into the
    parquet scan — at 100 TB, reading `text` alongside `html` nearly
    doubles scan bytes."""
    from weblog_pipeline.parse import parse_events
    from weblog_pipeline.webpages import generate_webpages

    path = str(tmp_path / "pages")
    generate_webpages(spark, 50, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path).where(F.col("html").isNotNull())
    plan = _physical(parse_events(pages))
    scan = plan[plan.index("FileScan") :].split("\n")[0]
    assert "ReadSchema" in scan
    read_schema = scan[scan.index("ReadSchema") :]
    assert "html" in read_schema and "url" in read_schema
    assert "text" not in read_schema  # pruned: UDF never consumes it
    assert "IsNotNull(html)" in plan  # pushed to the scan


def test_ivf_bootstrap_single_scan(emb_df):
    """sample_centroids must push the limit into the scan (one
    TakeOrderedAndProject job), never count() + second filtered scan, and
    must not assume dense ids."""
    sparse = emb_df.where(F.col("vec_id") % 7 != 3)  # punch holes in the ids
    cents = similarity.sample_centroids(sparse, 8)
    assert len(cents) == 8
    plan = _physical(
        sparse.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(8)
    )
    assert "TakeOrderedAndProject" in plan


def test_decontamination_broadcasts_probe_grams(spark):
    """The probe (benchmark) gram set must ride the broadcast side of the
    overlap join — shuffling a 100 TB train gram stream by gram to meet a
    tiny benchmark suite would be the classic scale-killer."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    probes = spark.createDataFrame(
        [Row(probe_id=1, text="alpha beta gamma delta")]
    )
    train = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma x y z") for i in range(4)]
    )
    plan = _physical(corpus.ngram_contamination(train, probes))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shingle_stream_materializes_token_array(spark):
    """The token array must survive as its own projected column (_w) in
    the optimized plan: CollapseProject keeps it because it is referenced
    many times, and that is what guarantees the tokenizer chain runs ONCE
    per row instead of once per transform-lambda element (a measured 24x
    on the shingle stream — see dedup.shingles_over)."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import dedup

    df = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e f g h") for i in range(4)]
    )
    plan = _physical(dedup.minhash_signatures(df))
    assert "_w#" in plan


def test_key_skew_uses_distributed_topk(spark):
    """key_skew's top-k must compile to TakeOrderedAndProject (per-
    partition heaps), never a global Sort over the full key domain, and
    the totals must ride a broadcast join."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    df = spark.createDataFrame([Row(k=i % 7) for i in range(50)])
    plan = _physical(corpus.key_skew(df, "k", top_k=3))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_source_overlap_no_cartesian_and_capped_join(spark):
    """Pair generation must be a per-gram equi-join (no cartesian), with
    the stop-gram cap applied via a semi join before the fan-out."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}", text="one two three four") for i in range(9)]
    )
    plan = _physical(corpus.source_overlap(df, src_cap=2))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_embedding_covariance_partials_not_explode(emb_df):
    """The covariance plan must contain the Arrow partial-aggregate stage
    (one Python stage, no Generate/explode of n x d^2 rows) and exactly
    one final aggregate over the partial cells."""
    plan = _physical(similarity.embedding_covariance(emb_df))
    assert "Generate" not in plan  # no posexplode path
    assert "MapInPandas" in plan


def test_posting_lists_rank_is_group_limited(spark):
    """Natural language df is Zipfian, so the per-term top-k must never
    funnel every posting of 'the' through one task: each map task cuts
    k postings per term before the shuffle (and no join on token shuffles
    the postings before that cut)."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame(
        [Row(doc_id=i, text="the quick the lazy the end") for i in range(6)]
    )
    plan = _physical(textstats.posting_lists(df, k=3, min_df=2))
    _assert_topk_group_limited(plan)


def test_pagerank_lineage_flat_in_iteration_count(spark):
    """The iterate must be checkpointed: without it the final plan
    contains every iteration's joins (Catalyst analysis O(iters^2), no
    failure cut-point). With it, the executed plan holds exactly ONE
    iteration's join pair above a checkpointed scan."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import graph

    edges = spark.createDataFrame(
        [Row(src_host="a", dst_host="b", n_links=1),
         Row(src_host="b", dst_host="a", n_links=2)]
    )
    p2 = _physical(graph.pagerank(edges, iters=2))
    p6 = _physical(graph.pagerank(edges, iters=6))
    assert p2.count("Join") == p6.count("Join"), "plan grows with iters"
    assert "ExistingRDD" in p6  # the checkpointed iterate


def test_pagerank_lineage_flat_with_reliable_checkpoints(spark, set_checkpoint_dir, tmp_path):
    """With a checkpoint dir set, `materialize` takes the reliable
    `checkpoint()`; its result must plan as the same ExistingRDD leaf, so
    the lineage-shape guards above hold on a cluster setup too."""
    from weblog_pipeline.ops import graph

    set_checkpoint_dir(str(tmp_path))
    edges = spark.createDataFrame(
        [Row(src_host="a", dst_host="b", n_links=1),
         Row(src_host="b", dst_host="a", n_links=2)]
    )
    p2 = _physical(graph.pagerank(edges, iters=2))
    p6 = _physical(graph.pagerank(edges, iters=6))
    assert p2.count("Join") == p6.count("Join"), "plan grows with iters"
    assert "ExistingRDD" in p6


def test_every_checkpoint_goes_through_materialize():
    """One checkpoint policy: `.checkpoint` and `.localCheckpoint` appear in
    src/ only inside `session.materialize`, so a configured checkpoint dir
    reaches every operator that cuts lineage."""
    import ast
    import pathlib

    src = pathlib.Path(__file__).resolve().parent.parent / "src"
    inside, outside = [], []
    for path in sorted(src.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        policy = {
            id(n)
            for fn in ast.walk(tree)
            if path.name == "session.py"
            and isinstance(fn, ast.FunctionDef) and fn.name == "materialize"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr in ("checkpoint", "localCheckpoint"):
                where = f"{path.relative_to(src)}:{node.lineno}"
                (inside if id(node) in policy else outside).append(where)
    assert len(inside) == 2, inside
    assert not outside, f"raw checkpoint calls outside session.materialize: {outside}"


def test_python_row_stages_share_map_rows():
    """One row stage for the package, by an AST walk over every module of
    src/weblog_pipeline: `mapInArrow` is called only by rows.map_rows, the
    parse UDF and the WARC file fold; `mapInPandas` only by similarity's
    two numpy batch kernels; the codec modules import no pandas; and the
    one `on_error` membership check is the one inside map_rows, so every
    per-row stage shares the batch assembly and the quarantine contract.
    Likewise `applyInPandasWithState` is called only by the stateful stage
    streaming._stateful, the one place in streaming.py that imports
    pandas."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "src/weblog_pipeline"
    allowed = {
        "mapInArrow": {"rows.map_rows", "parse.parse_events", "warc.write_warc_files"},
        "mapInPandas": {"ops.similarity._with_matmul_column", "ops.similarity.embedding_covariance"},
        "on_error check": {"rows.map_rows"},
        "applyInPandasWithState": {"streaming._stateful"},
    }
    no_pandas = {"warc", "webpages", "otlp_proto", "robots", "sitemap", "urlnorm",
                 "ops.multimodal", "rows"}
    found = {k: [] for k in allowed}
    pandas_imports = []
    for path in sorted(pkg.rglob("*.py")):
        module = ".".join(path.relative_to(pkg).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            where = f"{module}.{getattr(top, 'name', '<module>')}"
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr in (
                    "mapInArrow", "mapInPandas", "applyInPandasWithState"
                ):
                    found[node.attr].append(where)
                if (
                    isinstance(node, ast.Compare)
                    and isinstance(node.left, ast.Name) and node.left.id == "on_error"
                    and isinstance(node.ops[0], (ast.In, ast.NotIn))
                ):
                    found["on_error check"].append(where)
                names = []
                if isinstance(node, ast.Import):
                    names = [a.name for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    names = [node.module or ""]
                pandas = any(n.split(".")[0] == "pandas" for n in names)
                if pandas and (module in no_pandas or module == "streaming" and where != "streaming._stateful"):
                    pandas_imports.append(f"{module}:{node.lineno}")
    assert not pandas_imports, pandas_imports
    for kind, where in found.items():
        assert set(where) <= allowed[kind], (kind, sorted(set(where) - allowed[kind]))
        assert len(where) == len(allowed[kind]), (kind, where)


def test_catalog_defaults_are_passed_and_epoch_day_is_stated_once():
    """One events schema and one epoch day, by an AST walk. Every keyword
    parameter with a default of a public function of aggregate.py or
    streaming.py is passed by at least one call in src/, tests/,
    scripts/, perfbench/, bench.py or main.py (positional arguments
    count under their parameter's name, and ``*args``/``**kwargs`` pass
    every parameter they can reach): a value no caller sets is a
    constant, not an option. And no Spark code in src/ spells the day
    truncation (``date_trunc('day', ...)`` in a SQL string, or a
    ``date_trunc("day", ...)`` call) outside aggregate.epoch_day; the
    DuckDB SQL of driver_queries (the ``SQL_*`` strings and the
    ``_sql_*`` builders) is the oracle and keeps its own spelling."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "src/weblog_pipeline"
    defaults = {}
    for module in ("aggregate", "streaming"):
        for fn in ast.parse((pkg / f"{module}.py").read_text()).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            kw = pos[len(pos) - len(a.defaults):] if a.defaults else []
            kw += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            if kw:
                defaults[fn.name] = (module, pos, kw)
    callers = [p for d in ("src", "tests", "scripts", "perfbench") for p in (root / d).rglob("*.py")]
    callers += [root / "bench.py", root / "main.py"]
    passed = {name: set() for name in defaults}
    day_spellings = []
    for path in callers:
        tree = ast.parse(path.read_text(), str(path))
        oracle = path == pkg / "driver_queries.py"
        in_pkg = pkg in path.parents
        for top in tree.body:
            where = f"{path.relative_to(root)}:{getattr(top, 'name', '<module>')}"
            owner = getattr(top, "name", None) or "".join(
                getattr(t, "id", "") for t in getattr(top, "targets", [])
            )
            exempt = where == "src/weblog_pipeline/aggregate.py:epoch_day" or (
                oracle and (owner.startswith("SQL_") or owner.startswith("_sql"))
            )
            for node in ast.walk(top):
                if in_pkg and not exempt and (
                    isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and "date_trunc('day'" in node.value
                    or isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "date_trunc" and node.args
                    and isinstance(node.args[0], ast.Constant) and node.args[0].value == "day"
                ):
                    day_spellings.append(f"{where}:{node.lineno}")
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name not in defaults:
                    continue
                _, pos, kw = defaults[name]
                for i, arg in enumerate(node.args):
                    if isinstance(arg, ast.Starred):
                        passed[name].update(pos[i:])
                        break
                    if i < len(pos):
                        passed[name].add(pos[i])
                for k in node.keywords:
                    passed[name].update(kw if k.arg is None else [k.arg])
    never = sorted(
        f"{module}.{name}({p})"
        for name, (module, _, kw) in defaults.items() for p in kw if p not in passed[name]
    )
    assert not never, f"{len(never)} keyword defaults no caller passes: {never}"
    assert not day_spellings, day_spellings


def test_bloom_prefilter_bits_side_broadcasts(spark):
    """The bloom bit set must ride a BroadcastHashJoin (it is <=
    depth*width rows regardless of corpus size); the exact audit join
    stays a plain equi-join for AQE to plan."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    ex = spark.createDataFrame([Row(doc_id=i, text=f"doc {i}") for i in range(10)])
    inc = spark.createDataFrame([Row(doc_id=100, text="doc 3")])
    plan = _physical(corpus.bloom_prefilter(ex, inc, depth=2, width=64))
    assert "BroadcastHashJoin" in plan, plan


def test_keyed_quota_window_partitioned_by_key_and_day(spark):
    """The quota window must partition by (key, day) — a bounded stratum —
    never by key alone (a hot key's full history in one sort) and never
    SinglePartition."""
    from pyspark.sql import Row

    from weblog_pipeline.aggregate import keyed_quota

    df = spark.createDataFrame(
        [Row(event_id=1, user_id=1,
             ts=__import__("datetime").datetime(2025, 1, 1))]
    )
    plan = _physical(keyed_quota(df, k=3))
    wins = [ln for ln in plan.splitlines() if "Window" in ln and "[" in ln]
    assert wins, plan
    assert "SinglePartition" not in plan
    part = wins[0].split("], [")[1]
    assert "user_id" in part and "win_start" in part, plan


def test_c4_quality_flags_is_single_scan_zero_exchanges(spark):
    """Every C4 rule bit must be a codegen'd expression over one scan —
    no joins, no shuffles."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame([Row(doc_id=0, text="a line here today.")])
    plan = _physical(textstats.c4_quality_flags(df, badwords=("x",)))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_cms_heavy_hitters_cells_aggregate_is_partial(spark):
    """The CMS counter grid must be a partial->final hash aggregate (map-
    side combine bounds it at depth*width cells) and the exact top-k cut
    must be TakeOrderedAndProject, not a global sort."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame([Row(doc_id=0, text="a b a")])
    plan = _physical(textstats.cms_heavy_hitters(df, k=2))
    assert "TakeOrderedAndProject" in plan, plan
    # partial/final pairs: more HashAggregate nodes than Exchanges feeding them
    assert plan.count("HashAggregate") >= 4, plan


def test_vocab_growth_single_corpus_scan_per_side(spark):
    """The growth curve must come from ONE first-appearance aggregate —
    no per-prefix-point scans: the plan holds a bounded number of parquet
    scans (token side + doc-count sides), not one per bucket."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"tok{i} common") for i in range(4)]
    )
    p8 = _physical(textstats.vocab_growth(df, n_buckets=8))
    p2 = _physical(textstats.vocab_growth(df, n_buckets=2))
    assert p8.count("Scan") == p2.count("Scan"), "scan count grows with buckets"


def test_mixture_sample_has_no_windows(spark):
    """The epoch-count realization must be window-free (a per-source rank
    would funnel the Zipf-head source through one task): broadcast quota
    join + stateless hash threshold only."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    df = spark.createDataFrame(
        [Row(doc_id=i, text="t", source=f"s{i % 2}") for i in range(6)]
    )
    plan = _physical(corpus.mixture_sample(df, budget=10))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bfs_depth_lineage_flat_in_hop_count(spark):
    """Each BFS hop must be checkpointed: the final plan's join
    count is constant in the hop budget (frontier reads back from the
    materialized visited set, never the whole chain)."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import graph

    edges = spark.createDataFrame(
        [Row(src_host="a", dst_host="b", n_links=2),
         Row(src_host="b", dst_host="c", n_links=1)]
    )
    p2 = _physical(graph.bfs_depth(edges, seeds_k=1, iters=2))
    p6 = _physical(graph.bfs_depth(edges, seeds_k=1, iters=6))
    assert p2.count("Join") == p6.count("Join"), "plan grows with hops"
    assert "ExistingRDD" in p6


def test_semantic_dedup_pairs_are_per_cell_never_global(emb_df):
    """SemDeDup's pair generation must be an equi-join ON CELL (within-
    cluster only) — a cartesian / nested-loop pair stage would pass value
    checks at 60 vectors and die at corpus scale."""
    df = similarity.semantic_dedup(emb_df, threshold=0.9, n_cells=4)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell" in plan  # the equi-join key


def test_semantic_dedup_flags_planted_pair_lowest_id_survives(emb_df):
    rows = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(
            emb_df, threshold=0.9, n_cells=4
        ).collect()
    }
    assert len(rows) == 60  # one row per corpus vector
    # planted ~parallel pair (4, 9): same nearest cell by construction,
    # cosine ~1.0 -> the higher id is the duplicate, the lower survives
    assert rows[4]["cell"] == rows[9]["cell"]
    assert rows[9]["is_dup"] is True
    assert rows[4]["is_dup"] is False


def test_sentence_stats_is_single_scan_zero_exchanges(spark):
    """Sentence segmentation must stay one codegen'd projection chain —
    no joins, no shuffles; each HOF stage materialized in its own select
    (the shingles_over CSE contract)."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame([Row(doc_id=0, text="One. Two two! ok")])
    plan = _physical(textstats.sentence_stats(df))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_freq_spectrum_aggregates_are_partial(spark):
    """Both aggregation levels must map-side combine (partial_count
    before each exchange): shuffle volume is vocabulary then the count
    domain — never the exploded token stream."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame(
        [Row(doc_id=i, text="common words here") for i in range(4)]
    )
    plan = _physical(textstats.freq_spectrum(df))
    assert plan.count("partial_count") >= 2, plan
    assert "Join" not in plan, plan


def test_importance_sample_is_window_free_broadcast_weights(spark):
    """Resampling must stay stateless: the weight table broadcasts, the
    copy-count realization is a per-row hash predicate — no Window, no
    extra exchange beyond the classifier's own doc_id aggregate."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus, textstats

    df = spark.createDataFrame([Row(doc_id=i, text="some words") for i in range(4)])
    plan = _physical(
        corpus.importance_sample(df, textstats.classifier_weights(spark))
    )
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_attribution_last_touch_is_window_free_bounded_join(spark):
    """The as-of join must stay a bounded range-bucket equi-join: no
    per-user full-history Window, no cartesian/broadcast-nested-loop —
    the probe explode bounds candidates to <= 2 buckets per conversion."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import attribution_last_touch

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, user_id=i % 2, event_type=t,
                ts=t0 + datetime.timedelta(seconds=i))
            for i, t in enumerate(["view", "click", "purchase", "purchase"])
        ]
    )
    plan = _physical(attribution_last_touch(df))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_event_transitions_window_is_day_bounded(spark):
    """The lag window must partition by (user, day) — a bounded stratum —
    never by the bare user key, and the totals join back broadcast."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import event_transitions

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, user_id=1, event_type="view",
                ts=t0 + datetime.timedelta(seconds=i))
            for i in range(4)
        ]
    )
    plan = _physical(event_transitions(df))
    win = [l for l in plan.splitlines() if "Window [lag(" in l]
    assert win, plan
    # partition key list (the segment after the frame spec) holds BOTH keys
    assert all("_day_s" in l.split("], [")[1] for l in win), win
    assert "BroadcastHashJoin" in plan, plan


def test_cohort_retention_is_window_free(spark):
    """Retention must stay aggregates + one equi-join: no Window, no
    cartesian — the (cohort, offset, user) distinct bounds the plan."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import cohort_retention

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, user_id=i % 3, event_type=t,
                ts=t0 + datetime.timedelta(hours=i))
            for i, t in enumerate(["signup", "view", "signup", "click"])
        ]
    )
    plan = _physical(cohort_retention(df))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_value_percentiles_single_scan_no_joins(spark):
    """Totals must come from a second window over the same partition key,
    not a separate aggregate branch: one scan, zero joins."""
    from pyspark.sql import Row

    from weblog_pipeline.aggregate import value_percentiles

    df = spark.createDataFrame(
        [Row(event_id=i, event_type="a", value=float(i)) for i in range(20)]
    )
    plan = _physical(value_percentiles(df))
    assert "Join" not in plan, plan
    assert plan.count("Scan ExistingRDD") == 1, plan


def test_drift_psi_is_window_free_broadcast_totals(spark):
    """PSI must stay pure aggregates: no Window, totals broadcast, no
    cartesian — everything after the first aggregate is histogram-sized."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import drift_psi

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, event_type="a", value=float(i),
                ts=t0 + datetime.timedelta(days=i % 3))
            for i in range(12)
        ]
    )
    plan = _physical(drift_psi(df))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bot_gap_window_is_day_bounded(spark):
    """The gap lag window must partition by (user, day) — the bounded
    stratum — never the bare user key; no joins anywhere."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import bot_gap_stats

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, user_id=1,
                ts=t0 + datetime.timedelta(seconds=10 * i))
            for i in range(6)
        ]
    )
    plan = _physical(bot_gap_stats(df))
    win = [l for l in plan.splitlines() if "Window [lag(" in l]
    assert win, plan
    assert all("win_start" in l.split("], [")[1] for l in win), win
    assert "Join" not in plan, plan


def test_dau_wau_broadcasts_day_dim(spark):
    """The phantom-window filter must be a broadcast join against the
    tiny day dimension — never a shuffle or cartesian; WAU distinct
    expands to the two-phase aggregate."""
    import datetime

    from weblog_pipeline.aggregate import dau_wau

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, user_id=i % 3,
                ts=t0 + datetime.timedelta(days=i % 4))
            for i in range(12)
        ]
    )
    plan = _physical(dau_wau(df))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_session_paths_ranks_are_group_limited_and_day_bounded(spark):
    """The per-session ordering window partitions by the bounded (user,
    day) stratum, and both ranks are group-limited: the session prefix
    per (user, day), the global top-k as a TakeOrderedAndProject."""
    import datetime

    from weblog_pipeline.aggregate import session_paths

    t0 = datetime.datetime(2025, 7, 4)
    df = spark.createDataFrame(
        [
            Row(event_id=i, user_id=i % 3, event_type="ab"[i % 2],
                ts=t0 + datetime.timedelta(seconds=i))
            for i in range(12)
        ]
    )
    plan = _physical(session_paths(df))
    wins = [l for l in plan.splitlines() if "Window [row_number()" in l]
    assert len(wins) == 2, plan  # session order, global top-k
    assert any("_day_s" in w for w in wins), wins
    _assert_topk_group_limited(plan)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_label_propagation_lineage_flat_in_iteration_count(spark):
    """LPA's per-round labels must be checkpointed (the pagerank
    discipline): plan size is independent of rounds, and the winner rank
    window partitions by host — never a global window."""
    from weblog_pipeline.ops import graph

    edges = spark.createDataFrame(
        [Row(src_host="a", dst_host="b", n_links=1),
         Row(src_host="b", dst_host="c", n_links=2)]
    )
    p2 = _physical(graph.label_propagation(edges, iters=2))
    p6 = _physical(graph.label_propagation(edges, iters=6))
    assert p2.count("Join") == p6.count("Join"), "plan grows with iters"
    assert "ExistingRDD" in p6
    assert "CartesianProduct" not in p6


def test_passage_fingerprints_zero_exchanges(spark):
    """Window fan-out + slice + md5 all live in the scan stage."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import corpus

    df = spark.createDataFrame([Row(doc_id=0, text="a b c d e")])
    plan = _physical(corpus.passage_fingerprints(df, window=4, stride=3))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_encoding_damage_zero_exchanges(spark):
    """The mojibake census is a pure codegen'd projection."""
    from pyspark.sql import Row

    from weblog_pipeline.ops import textstats

    df = spark.createDataFrame([Row(doc_id=0, text="abc")])
    plan = _physical(textstats.encoding_damage(df))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_new_pair_ops_have_no_cartesian(spark):
    """containment_pairs, triangle_count, and item_covisitation are all
    equi-join shapes — a cartesian or nested-loop join anywhere means
    the df-cap / orientation / stratum key was lost."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import item_covisitation
    from weblog_pipeline.ops.dedup import containment_pairs
    from weblog_pipeline.ops.graph import triangle_count

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e f") for i in range(3)]
    )
    edges = spark.createDataFrame(
        [Row(src_host="a", dst_host="b", n_links=1)]
    )
    events = spark.createDataFrame(
        [Row(event_id=0, ts=datetime.datetime(2024, 1, 1), user_id=1,
             event_type="view", value=1.0, props='{"k": 1}')]
    )
    for df in (
        containment_pairs(docs),
        triangle_count(edges),
        item_covisitation(events),
    ):
        plan = _physical(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_daily_anomalies_windows_ride_the_aggregated_series(spark):
    """One raw-event aggregate feeds the trailing-baseline window: no
    joins, and every Window sits above the (key, day) HashAggregate."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.aggregate import daily_anomalies

    df = spark.createDataFrame(
        [Row(event_id=0, ts=datetime.datetime(2024, 1, 1), user_id=1,
             event_type="view", value=1.0, props="{}")]
    )
    plan = _physical(daily_anomalies(df))
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_shipping_topk_broadcasts_dim_and_shuffles_fact(spark):
    """The Q3-shape join must broadcast the customer dimension (and the
    one-row pivot) and reserve the shuffle for the orderkey fact join;
    the final top-k must be TakeOrderedAndProject, not a global sort."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import shipping_topk

    base = datetime.datetime(2024, 1, 1)
    cust = spark.createDataFrame(
        [Row(c_custkey=i, c_name=f"c{i}", c_nationkey=0, c_acctbal=1.0,
             c_mktsegment="BUILDING" if i % 2 == 0 else "AUTO")
         for i in range(10)]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=i % 10, o_orderstatus="O",
             o_totalprice=1.0,
             o_orderdate=base + datetime.timedelta(days=i % 60),
             o_orderpriority="1")
         for i in range(100)]
    )
    li = spark.createDataFrame(
        [Row(l_orderkey=i % 100, l_partkey=1, l_suppkey=1, l_linenumber=1,
             l_quantity=1.0, l_extendedprice=100.0, l_discount=0.1,
             l_tax=0.05, l_returnflag="N", l_linestatus="O",
             l_shipdate=base + datetime.timedelta(days=(i * 7) % 60))
         for i in range(300)]
    )
    plan = _physical(shipping_topk(cust, orders, li))
    assert "BroadcastHashJoin" in plan       # the dim side
    assert "TakeOrderedAndProject" in plan   # the bounded top-k
    assert "CartesianProduct" not in plan


def test_segment_activity_broadcasts_dimension(spark):
    """The customer dimension lookup must be a BroadcastHashJoin — the
    event fact never shuffles for enrichment."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import segment_activity

    ev = spark.createDataFrame(
        [Row(event_id=i, user_id=i % 5, event_type="view", value=1.0,
             ts=datetime.datetime(2024, 1, 1))
         for i in range(50)]
    )
    cust = spark.createDataFrame(
        [Row(c_custkey=i, c_name=f"c{i}", c_nationkey=0, c_acctbal=0.0,
             c_mktsegment="BUILDING")
         for i in range(5)]
    )
    out = segment_activity(ev, cust)
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    row = out.collect()[0]
    assert (row["n_events"], row["n_users"], row["sum_value_c"]) == (
        50, 5, 5000,
    )


def test_regional_revenue_single_fact_shuffle(spark):
    """The Q5-shape plan must carry the dimension chain into the fact
    side as broadcasts: no SortMergeJoin anywhere except (possibly) the
    orders-lineitem fact join, and never a cartesian."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import regional_revenue

    base = datetime.datetime(2024, 1, 1)
    region = spark.createDataFrame(
        [Row(r_regionkey=i, r_name=f"R{i}") for i in range(2)]
    )
    nation = spark.createDataFrame(
        [Row(n_nationkey=i, n_name=f"N{i}", n_regionkey=i % 2)
         for i in range(4)]
    )
    cust = spark.createDataFrame(
        [Row(c_custkey=i, c_name=f"c{i}", c_nationkey=i % 4,
             c_acctbal=0.0, c_mktsegment="BUILDING") for i in range(8)]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=i, o_custkey=i % 8, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=base, o_orderpriority="1")
         for i in range(40)]
    )
    li = spark.createDataFrame(
        [Row(l_orderkey=i % 40, l_partkey=1, l_suppkey=1, l_linenumber=1,
             l_quantity=1.0, l_extendedprice=10.0, l_discount=0.0,
             l_tax=0.0, l_returnflag="N", l_linestatus="O",
             l_shipdate=base) for i in range(120)]
    )
    out = regional_revenue(region, nation, cust, orders, li)
    plan = _physical(out)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # region, nation, dim
    total = sum(r["revenue_c"] for r in out.collect())
    assert total == 120 * 1000  # 120 lineitems x 10.00 -> cents


def test_order_fulfilment_semi_shape_and_counts(spark):
    """Q4 shape: the EXISTS is one equi-join + distinct (no cartesian,
    no per-order subplan); counts match a hand-built late set, and a
    priority with zero late orders still appears with n_late=0."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import order_fulfilment

    base = datetime.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [Row(o_orderkey=1, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=base, o_orderpriority="1-HI"),
         Row(o_orderkey=2, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=base, o_orderpriority="1-HI"),
         Row(o_orderkey=3, o_custkey=1, o_orderstatus="O",
             o_totalprice=1.0, o_orderdate=base, o_orderpriority="2-LO")]
    )

    def li(ok, lag):
        return Row(l_orderkey=ok, l_partkey=1, l_suppkey=1,
                   l_linenumber=1, l_quantity=1.0, l_extendedprice=1.0,
                   l_discount=0.0, l_tax=0.0, l_returnflag="N",
                   l_linestatus="O",
                   l_shipdate=base + datetime.timedelta(days=lag))

    # order 1: two late lineitems (must count ONCE); 2 and 3: on time
    lineitem = spark.createDataFrame(
        [li(1, 31), li(1, 45), li(2, 5), li(3, 29)]
    )
    out = order_fulfilment(orders, lineitem, late_days=30)
    plan = _physical(out)
    assert "CartesianProduct" not in plan
    got = {r["o_orderpriority"]: (r["n_orders"], r["n_late"])
           for r in out.collect()}
    assert got == {"1-HI": (2, 1), "2-LO": (1, 0)}


def test_small_qty_revenue_cut_and_broadcasts(spark):
    """Q17 shape: the brand dim and the per-part stats relation both
    broadcast (the fact never shuffles); the integer cross-multiply
    reproduces q < avg/5 exactly."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import small_qty_revenue

    base = datetime.datetime(2024, 1, 1)
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="Brand#4", p_type="t",
             p_size=1, p_retailprice=1.0),
         Row(p_partkey=2, p_name="b", p_brand="Brand#9", p_type="t",
             p_size=1, p_retailprice=1.0)]
    )

    def li(pk, qty):
        return Row(l_orderkey=1, l_partkey=pk, l_suppkey=1,
                   l_linenumber=1, l_quantity=float(qty),
                   l_extendedprice=10.0, l_discount=0.0, l_tax=0.0,
                   l_returnflag="N", l_linestatus="O", l_shipdate=base)

    # part 1: qties 1, 20, 24 -> avg 15, cut avg/5 = 3 -> only qty 1
    # part 2 (other brand): must not appear at all
    lineitem = spark.createDataFrame([li(1, 1), li(1, 20), li(1, 24),
                                      li(2, 1)])
    out = small_qty_revenue(part, lineitem, brands=("Brand#4",))
    plan = _physical(out)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0]["p_brand"], rows[0]["n_small"],
            rows[0]["revenue_c"]) == ("Brand#4", 1, 1000)


def test_supplier_census_anti_join_dedups(spark):
    """Q16 shape: the bad-standing supplier is ANTI-joined out, repeat
    (part, supplier) pairs count once, and the plan keeps both the dim
    and exclusion sides broadcast."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import supplier_census

    base = datetime.datetime(2024, 1, 1)
    part = spark.createDataFrame(
        [Row(p_partkey=1, p_name="a", p_brand="B1", p_type="t",
             p_size=5, p_retailprice=1.0),
         Row(p_partkey=2, p_name="b", p_brand="B1", p_type="t",
             p_size=50, p_retailprice=1.0)]
    )
    supplier = spark.createDataFrame(
        [Row(s_suppkey=1, s_name="s1", s_nationkey=0, s_acctbal=10.0),
         Row(s_suppkey=2, s_name="s2", s_nationkey=0, s_acctbal=-1.0)]
    )

    def li(pk, sk):
        return Row(l_orderkey=1, l_partkey=pk, l_suppkey=sk,
                   l_linenumber=1, l_quantity=1.0, l_extendedprice=1.0,
                   l_discount=0.0, l_tax=0.0, l_returnflag="N",
                   l_linestatus="O", l_shipdate=base)

    # part 1 (size<=10): supp 1 twice (dedup), supp 2 (excluded);
    # part 2 (size 50): filtered by the dim
    lineitem = spark.createDataFrame(
        [li(1, 1), li(1, 1), li(1, 2), li(2, 1)]
    )
    out = supplier_census(part, supplier, lineitem, size_max=10)
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0]["p_brand"], rows[0]["p_size"],
            rows[0]["n_suppliers"]) == ("B1", 5, 1)


def test_heavy_orders_data_derived_threshold(spark):
    """Q18 shape: only the whale order clears 3x the average order
    quantity; the qualifying set and the customer dim ride broadcast
    joins (the rollup is the plan's only real shuffle)."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import heavy_orders

    base = datetime.datetime(2024, 1, 1)
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="c1", c_nationkey=0, c_acctbal=0.0,
             c_mktsegment="BUILDING")]
    )
    orders = spark.createDataFrame(
        [Row(o_orderkey=k, o_custkey=1, o_orderstatus="O",
             o_totalprice=100.0, o_orderdate=base, o_orderpriority="1")
         for k in (1, 2, 3, 4)]
    )

    def li(ok, qty):
        return Row(l_orderkey=ok, l_partkey=1, l_suppkey=1,
                   l_linenumber=1, l_quantity=float(qty),
                   l_extendedprice=1.0, l_discount=0.0, l_tax=0.0,
                   l_returnflag="N", l_linestatus="O", l_shipdate=base)

    # per-order qty: 10, 10, 10, 100 -> avg 32.5 (3250c DIV -> 3250),
    # 3x = 9750c; only order 4 (10000c) clears it
    lineitem = spark.createDataFrame(
        [li(1, 10), li(2, 10), li(3, 10), li(4, 100)]
    )
    out = heavy_orders(cust, orders, lineitem, mult=3)
    plan = _physical(out)
    assert "CartesianProduct" not in plan
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0]["o_orderkey"], rows[0]["sum_qty_c"],
            rows[0]["total_c"]) == (4, 10000, 10000)


def test_scd2_lookup_point_in_time_and_broadcast(spark):
    """The SCD2 join must (a) broadcast the version history — the fact
    never shuffles for a dimension lookup — and (b) pick the version
    valid AT EVENT TIME: an event before a customer's change day lands
    on version 1, after it on version 2."""
    import datetime

    from pyspark.sql import Row

    from weblog_pipeline.ops.relational import scd2_lookup

    base = datetime.datetime(2024, 1, 1)
    # custkey 3 changes (3 % 3 == 0) on day 1 + 3 % 28 = 4;
    # custkey 1 never changes
    cust = spark.createDataFrame(
        [Row(c_custkey=1, c_name="a", c_nationkey=0, c_acctbal=0.0,
             c_mktsegment="BUILDING"),
         Row(c_custkey=3, c_name="b", c_nationkey=0, c_acctbal=0.0,
             c_mktsegment="BUILDING")]
    )

    def ev(i, user, day):
        return Row(event_id=i, ts=base + datetime.timedelta(days=day),
                   user_id=user, event_type="view", value=1.0,
                   props=None)

    events = spark.createDataFrame(
        [ev(0, 1, 0),   # anchors day0; v1 forever
         ev(1, 3, 2),   # before day 4 -> version 1 BUILDING
         ev(2, 3, 10),  # after -> version 2 FURNITURE (rotated)
         ev(3, 3, 20)],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = scd2_lookup(events, cust)
    plan = _physical(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    got = {(r["seg"], r["version"]): (r["n_events"], r["n_users"])
           for r in out.collect()}
    assert got == {
        ("BUILDING", 1): (2, 2),      # user 1 day0 + user 3 day2
        ("FURNITURE", 2): (2, 1),     # user 3 days 10, 20
    }


def test_session6_ops_have_no_cartesian(spark):
    """Plan guard for the session-6 additions that join: no
    CartesianProduct anywhere; the KMV rank is group-limited; NB scoring
    keeps the grid join an equi-join on token."""
    import datetime
    import json

    from weblog_pipeline.aggregate import (
        item_similarity,
        kmv_audit,
    )
    from weblog_pipeline.ops.textstats import nb_lang_holdout

    base = datetime.datetime(2024, 1, 1)
    ev_rows = [
        Row(event_id=i, ts=base + datetime.timedelta(hours=i % 48),
            user_id=i % 7, event_type="view", value=1.0,
            props=json.dumps({"k": i % 5}))
        for i in range(60)
    ]
    ev = spark.createDataFrame(
        ev_rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    plan_sim = _physical(item_similarity(ev, min_support=1))
    assert "CartesianProduct" not in plan_sim

    plan_kmv = _physical(kmv_audit(ev))
    assert "CartesianProduct" not in plan_kmv
    _assert_topk_group_limited(plan_kmv)

    docs = spark.createDataFrame(
        [Row(doc_id=i, lang="en" if i % 2 else "fr",
             text="hello world " * 3, source="s", n_chars=1)
         for i in range(12)]
    )
    plan_nb = _physical(nb_lang_holdout(docs))
    assert "CartesianProduct" not in plan_nb
