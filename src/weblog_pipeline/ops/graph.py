"""Link-graph operators over the documents table: outlink extraction,
domain-level link-graph construction, fixed-iteration PageRank, and
anchor-text indexing — the web-graph side of a crawl/curation pipeline
(domain reputation for source weighting, anchor text as a relevance
signal).

All ranks are SCALED INTEGERS (no floats): the PageRank update is pure
integer multiply/`div`, so the result is bit-identical across engines
and partitionings — the same order-free-exact trick the LSH/IVF/bigram
oracles rely on. PageRank follows Page et al. 1999 ("The PageRank
citation ranking") with the standard drop-dangling-mass simplification.

Scale shape:
* extract_links: one codegen'd scan (regexp_extract_all both groups,
  zip-shift explode) — embarrassingly parallel, no Python.
* link_graph: groupBy (src,dst) — map-side combine collapses each
  partition's edge multiset before the only shuffle; output is bounded
  by the DISTINCT domain-pair set, not the page count.
* pagerank: iterates over the DOMAIN-grain graph (edges ~ |domains|^2
  worst case, millions of rows at web scale — never the page grain).
  Each iteration is one equi-join + one aggregate; the iterate is
  checkpointed so lineage (and Catalyst analysis time) stays O(1)
  in the iteration count instead of O(iters) — the same reason
  dup_clusters checkpoints its label frontier.
* anchor_topk: rank window runs on per-(domain, token) AGGREGATED
  counts — bounded by per-domain anchor vocabulary, never by raw link
  volume, so a hub domain with 10^9 inlinks still ranks over a small
  partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..aggregate import topk
from ..session import materialize
from .dedup import WS_RE, ascii_lower

#: href + anchor-text extractor. Syntax restricted to the Java-regex ∩
#: RE2 common subset (character classes, `?`, `*` — no lookarounds) so
#: Spark and the SQL oracle match identically.
LINK_RE = '<a href="https?://([A-Za-z0-9.-]+)/[^"]*">([^<]*)</a>'

#: PageRank geometry (shared with the SQL oracle generator — change
#: together). scale=1e9 keeps the per-edge product
#: rank * n_links * damping < 2^63 for domain graphs up to ~1e6 nodes
#: and ~1e4 links per edge; shrink the scale to widen that headroom.
PR_SCALE = 10**9
PR_DAMPING_PCT = 85
PR_ITERS = 4


def extract_links(documents: DataFrame) -> DataFrame:
    """Per-page outlinks: (doc_id, src_host, dst_host, anchor).

    Both capture groups are extracted from ONE pattern so the two arrays
    are position-aligned by construction; the zip-shift transform pairs
    them without a join. Pages with no links produce no rows (both
    engines agree). src_host is the page's own registered host
    (`source` + '.example' in the fixture's URL scheme — see
    webpages.py's doc-URL convention)."""
    text = F.col("text")
    pre = documents.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example")).alias("src_host"),
        F.regexp_extract_all(text, F.lit(LINK_RE), 1).alias("_h"),
        F.regexp_extract_all(text, F.lit(LINK_RE), 2).alias("_a"),
    )
    zipped = F.when(
        F.array_size(F.col("_h")) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.array_size(F.col("_h"))),
            lambda i: F.struct(
                F.element_at(F.col("_h"), i).alias("dst_host"),
                F.element_at(F.col("_a"), i).alias("anchor"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<dst_host:string,anchor:string>>"))
    return pre.select(
        "doc_id", "src_host", F.explode(zipped).alias("_l")
    ).select("doc_id", "src_host", "_l.dst_host", "_l.anchor")


def link_graph(links: DataFrame) -> DataFrame:
    """Domain-grain weighted edge list: (src_host, dst_host, n_links).

    One aggregate; at web scale the shuffle key is the domain pair —
    far smaller and far more uniform than page-grain keys."""
    return links.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a weighted domain edge list.

    rank_0(v) = scale;
    rank_{i+1}(v) = (100-d)*scale div 100
                  + SUM over in-edges (u,v) of
                      (rank_i(u) * n_links(u,v) * d) div (n_out(u) * 100)

    Every step is integer multiply + integer `div` (operands are
    non-negative, so Spark's truncating `div` and the oracle's floor
    division agree) — the result is EXACT regardless of engine, task
    count, or aggregation order. Dangling mass (domains with no
    outlinks) is dropped, the standard simplification.

    The iterate is checkpointed every second round: lineage stays
    at most two iterations deep, so plan analysis cost is flat in
    `iters` and a failed run resumes from the last materialized iterate
    instead of replaying the whole chain — the checkpoint discipline the
    pipeline's run_metrics ledger expects of iterative jobs,
    at half the eager-materialization jobs of a per-round checkpoint.

    Output: host, n_out, rank_scaled (all integers).
    """
    # Materialize the (tiny) domain edge list once — every iteration's
    # contrib join re-references `edges`; without this the upstream link
    # extraction re-scans the corpus `iters`+2 times.
    edges = materialize(edges)
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    outdeg = (
        edges.groupBy("src_host")
        .agg(F.sum("n_links").alias("n_out"))
        .select(F.col("src_host").alias("host"), "n_out")
    )
    esrc = edges.join(
        outdeg, edges["src_host"] == outdeg["host"]
    ).select("src_host", "dst_host", "n_links", "n_out")
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select("host", F.lit(scale).cast("long").alias("rank"))
    for it in range(iters):
        contrib = esrc.join(ranks, esrc["src_host"] == ranks["host"]).select(
            F.col("dst_host").alias("host"),
            F.expr(
                f"(rank * n_links * {damping_pct}) div (n_out * 100)"
            ).alias("c"),
        )
        inc = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        ranks = nodes.join(inc, "host", "left").select(
            "host",
            (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
        # checkpoint every SECOND iteration (and never the last — the
        # consumer's job fuses the trailing iterations): lineage stays
        # bounded at two iterations, the failure cut-point property
        # holds, and half the eager materialization jobs disappear
        if it % 2 == 1 and it != iters - 1:
            ranks = materialize(ranks)
    return (
        ranks.join(outdeg, "host", "left")
        .select(
            "host",
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.col("rank").alias("rank_scaled"),
        )
    )


def anchor_topk(links: DataFrame, k: int = 3) -> DataFrame:
    """Top-k anchor-text tokens pointing AT each domain — the classic
    inbound-relevance signal (what the web calls a page, not what the
    page calls itself).

    Output: dst_host, rank, token, n_occurrences; ties break on token
    order for a deterministic cross-engine cut."""
    toks = links.select(
        "dst_host",
        F.explode(
            F.split(F.trim(ascii_lower(F.col("anchor"))), WS_RE)
        ).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("dst_host", "token").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    order = [F.col("n_occurrences").desc(), F.col("token").asc()]
    return topk(counts, k, order, by=["dst_host"]).select(
        "dst_host", "rank", "token", "n_occurrences"
    )


#: HITS geometry. scale=1e6 bounds every per-edge product
#: rank * n_links <= scale * (1+eps) * max_links ~ 1e10, so a node summing
#: 1e8 in-edges stays < 2^63 with no normalization multiply.
HITS_SCALE = 10**6
HITS_ITERS = 4


def hits(
    edges: DataFrame, iters: int = HITS_ITERS, scale: int = HITS_SCALE
) -> DataFrame:
    """Fixed-iteration integer HITS (Kleinberg 1999, "Authoritative
    sources in a hyperlinked environment") over a weighted domain edge
    list: authority(v) = sum of hub(u)*n_links over in-edges, hub(u) =
    sum of authority(v)*n_links over out-edges, renormalized each half-
    step so the maximum score returns to ~scale.

    The normalization is DIVIDE-FIRST integer arithmetic:

        norm(r) = r div max(1, max_raw div scale)

    so no intermediate ever multiplies a raw sum by scale (overflow-free
    by construction), and every operation is non-negative multiply /
    truncating div / max — order-free and bit-identical across engines
    and partitionings, like pagerank above. The max_raw scalar rides a
    broadcast single-row cross join. Both score frames are
    checkpointed per iteration (same lineage discipline as
    pagerank).

    Output: host, auth_scaled, hub_scaled (all integers).
    """
    # Materialize the (tiny) domain edge list ONCE: every half-step
    # references `edges` twice (the score join and the max_raw scalar),
    # so an un-checkpointed upstream (regex link extraction over the
    # full corpus) would be re-scanned 2*2*iters times.
    edges = materialize(edges)
    nodes = materialize(
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    hubs = nodes.select("host", F.lit(scale).cast("long").alias("r"))

    def _half_step(scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
        raw = (
            edges.join(scores, edges[key_in] == scores["host"])
            .select(F.col(key_out).alias("host"), (F.col("r") * F.col("n_links")).alias("c"))
            .groupBy("host")
            .agg(F.sum("c").alias("raw"))
        )
        mx = raw.agg(F.max("raw").alias("mx"))
        return materialize(
            nodes.join(raw, "host", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "host",
                F.expr(
                    f"coalesce(raw, 0) div greatest(1, mx div {scale})"
                ).cast("long").alias("r"),
            )
        )

    if iters < 1:
        raise ValueError(f"hits() needs iters >= 1, got {iters}")
    auth = None
    for _ in range(iters):
        auth = _half_step(hubs, "src_host", "dst_host")
        hubs = _half_step(auth, "dst_host", "src_host")
    return (
        auth.select("host", F.col("r").alias("auth_scaled"))
        .join(hubs.select("host", F.col("r").alias("hub_scaled")), "host")
    )


#: BFS geometry: seed count and hop budget (shared with the SQL oracle
#: generator — change together).
BFS_SEEDS = 3
BFS_ITERS = 4


def bfs_depth(
    edges: DataFrame, seeds_k: int = BFS_SEEDS, iters: int = BFS_ITERS
) -> DataFrame:
    """Multi-source BFS over the domain link graph: crawl-frontier
    reachability from the seeds_k best-connected domains (total outlink
    weight desc, host asc — deterministic), depth = min hops from any
    seed, unreached domains excluded. The shortest-path member of the
    graph family (pagerank / hits / duplicate_clusters are the other
    fixed-point exemplars).

    Iteration k joins the previous FRONTIER (not the visited set)
    against the edge list, anti-joins out already-visited hosts, and
    checkpoints — lineage stays one hop deep and each round's work
    is bounded by the frontier, the textbook distributed-BFS shape. At
    domain grain every join side is tiny vs the corpus; the edge list is
    checkpointed once so the upstream link extraction never re-scans.

    Output: host, depth (0 for seeds).
    """
    edges = materialize(edges)
    seeds = (
        edges.groupBy("src_host")
        .agg(F.sum("n_links").alias("_w"))
        .orderBy(F.desc("_w"), F.asc("src_host"))
        .limit(seeds_k)
        .select(F.col("src_host").alias("host"))
    )
    visited = materialize(seeds.select("host", F.lit(0).cast("long").alias("depth")))
    frontier = visited.select("host")
    for d in range(1, iters + 1):
        nxt = (
            edges.join(frontier, edges["src_host"] == frontier["host"])
            .select(F.col("dst_host").alias("host"))
            .distinct()
            .join(visited, "host", "left_anti")
        )
        visited = materialize(
            visited.unionByName(nxt.select("host", F.lit(d).cast("long").alias("depth")))
        )
        # next frontier reads back from the CHECKPOINTED visited set so
        # the loop's lineage stays one hop deep (frontier = nxt would
        # chain every prior hop's anti-join into the next plan)
        frontier = visited.where(F.col("depth") == d).select("host")
    return visited


#: TrustRank seed count: the n hosts with the smallest md5(host) act as
#: the trusted seed set — the hash-ordered deterministic sample idiom.
TRUST_SEEDS = 4


def trustrank(
    edges: DataFrame,
    n_seeds: int = TRUST_SEEDS,
    iters: int = PR_ITERS,
    scale: int = PR_SCALE,
    damping_pct: int = PR_DAMPING_PCT,
) -> DataFrame:
    """Fixed-iteration integer TrustRank (Gyöngyi et al. 2004) — the
    crawl spam-mass classic: identical propagation to `pagerank`, but
    both the initial mass and the per-round teleport term flow ONLY to a
    trusted seed set, so trust decays with link distance from the seeds
    and a host with high PageRank but low TrustRank is a spam suspect.

    rank_0(v)     = scale * [v in seeds]
    rank_{i+1}(v) = [v in seeds] * ((100-d)*scale div 100)
                  + SUM over in-edges (u,v) of
                      (rank_i(u) * n_links(u,v) * d) div (n_out(u) * 100)

    Seeds are the n_seeds hosts with the smallest md5(host) — the
    deterministic hash-ordered sample any engine reproduces. All integer
    multiply + truncating div on non-negative operands (the pagerank
    exactness contract); iterates checkpointed so lineage stays one
    iteration deep.

    Output: host, is_seed (INT), n_out (BIGINT), rank_scaled (BIGINT).
    """
    edges = materialize(edges)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    seed_set = hosts.orderBy(F.md5(F.col("host"))).limit(n_seeds).select(
        "host", F.lit(1).alias("is_seed")
    )
    nodes = materialize(
        hosts.join(seed_set, "host", "left")
        .select("host", F.coalesce("is_seed", F.lit(0)).alias("is_seed"))
    )
    outdeg = (
        edges.groupBy("src_host")
        .agg(F.sum("n_links").alias("n_out"))
        .select(F.col("src_host").alias("host"), "n_out")
    )
    esrc = edges.join(
        outdeg, edges["src_host"] == outdeg["host"]
    ).select("src_host", "dst_host", "n_links", "n_out")
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select(
        "host", (F.col("is_seed") * scale).cast("long").alias("rank")
    )
    for _ in range(iters):
        contrib = esrc.join(ranks, esrc["src_host"] == ranks["host"]).select(
            F.col("dst_host").alias("host"),
            F.expr(
                f"(rank * n_links * {damping_pct}) div (n_out * 100)"
            ).alias("c"),
        )
        inc = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        ranks = materialize(
            nodes.join(inc, "host", "left")
            .select(
                "host",
                (
                    F.col("is_seed") * base
                    + F.coalesce(F.col("s"), F.lit(0))
                )
                .cast("long")
                .alias("rank"),
            )
        )
    return (
        ranks.join(nodes, "host")
        .join(outdeg, "host", "left")
        .select(
            "host",
            F.col("is_seed").cast("int").alias("is_seed"),
            F.coalesce("n_out", F.lit(0)).cast("long").alias("n_out"),
            F.col("rank").alias("rank_scaled"),
        )
    )


#: label-propagation rounds (synchronous updates; deterministic with
#: the weight-desc/label-asc tie-break — shared with the SQL oracle).
LP_ITERS = 3


def label_propagation(edges: DataFrame, iters: int = LP_ITERS) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the undirected domain graph — the cheap
    web-spam/topic-cluster primitive: every host starts as its own
    label, and each round adopts the label carrying the largest total
    edge weight among its neighbors (ties -> lexicographically smallest
    label, so the fixed-round synchronous schedule is fully
    deterministic and engine-exact; no random ordering as in the
    asynchronous original).

    Self-loops are dropped; hosts whose only edges are self-loops do
    not participate. The directed edge list is symmetrized first
    (u->v and v->u weights sum), so propagation ignores direction.

    Scale shape: everything runs at the DOMAIN grain. Each round is one
    equi-join of the symmetric edge list with the current labels, one
    (host, label) map-side-combined weight sum, and one rank window
    whose partitions are bounded by a host's distinct NEIGHBOR-LABEL
    count (<= degree, shrinking as labels merge — the anchor_topk
    bounded-partition argument). Labels are checkpointed per round
    so lineage stays one iteration deep (the pagerank discipline).

    Output: host, label (STRING), community_size (BIGINT).
    """
    e = edges.where(F.col("src_host") != F.col("dst_host"))
    sym = materialize(
        e.select(
            F.col("src_host").alias("s"),
            F.col("dst_host").alias("t"),
            "n_links",
        )
        .unionByName(
            e.select(
                F.col("dst_host").alias("s"),
                F.col("src_host").alias("t"),
                "n_links",
            )
        )
        .groupBy("s", "t")
        .agg(F.sum("n_links").alias("w"))
    )
    labels = materialize(
        sym.select(F.col("s").alias("host"))
        .distinct()
        .select("host", F.col("host").alias("label"))
    )
    order = [F.col("w").desc(), F.col("label").asc()]
    for _ in range(iters):
        votes = (
            sym.join(
                labels.select(
                    F.col("host").alias("t"), "label"
                ),
                "t",
            )
            .groupBy(F.col("s").alias("host"), "label")
            .agg(F.sum("w").alias("w"))
        )
        labels = materialize(
            topk(votes, 1, order, by=["host"]).select("host", "label")
        )
    w_size = Window.partitionBy("label")
    return labels.select(
        "host",
        "label",
        F.count(F.lit(1)).over(w_size).alias("community_size"),
    )


def _sym_edges(edges: DataFrame) -> DataFrame:
    """Symmetrized DISTINCT neighbor pairs (s, t) of the undirected
    domain graph: self-loops dropped, both orientations emitted — the
    single definition k_core / triangle_count / degree_assortativity
    share (label_propagation keeps its own WEIGHTED symmetrization)."""
    e = edges.where(F.col("src_host") != F.col("dst_host"))
    return (
        e.select(F.col("src_host").alias("s"), F.col("dst_host").alias("t"))
        .unionByName(
            e.select(
                F.col("dst_host").alias("s"), F.col("src_host").alias("t")
            )
        )
        .distinct()
    )


KCORE_K = 2
KCORE_ITERS = 4


def k_core(
    edges: DataFrame, k: int = KCORE_K, iters: int = KCORE_ITERS
) -> DataFrame:
    """k-core peeling over the undirected domain graph — the density
    primitive link-spam and crawl-frontier triage both use: repeatedly
    drop hosts with fewer than k distinct neighbors until the induced
    subgraph stabilizes. Run for a FIXED `iters` synchronous rounds (the
    pagerank/trustrank discipline: a deterministic, engine-exact unroll
    rather than a convergence test; peeling cascades longer than `iters`
    hops are deliberately out of scope and documented here).

    Degree is DISTINCT-neighbor count, direction and weight ignored,
    self-loops dropped. Each round = two semi-joins of the symmetrized
    distinct-pair edge list against the alive set (induced subgraph) +
    one map-side-combined degree aggregate + a codegen'd filter; the
    alive set is checkpointed per round so lineage stays one
    iteration deep. Edge-list shuffles are domain-grain.

    Output: host, degree (BIGINT, within the final induced subgraph).
    """
    if iters < 1:
        raise ValueError(f"k_core needs iters >= 1, got {iters}")
    sym = materialize(_sym_edges(edges))
    alive = materialize(sym.select(F.col("s").alias("host")).distinct())
    deg = None
    for _ in range(iters):
        induced = sym.join(
            alive.select(F.col("host").alias("s")), "s"
        ).join(alive.select(F.col("host").alias("t")), "t")
        deg = induced.groupBy(F.col("s").alias("host")).agg(
            F.count(F.lit(1)).alias("degree")
        )
        alive = materialize(deg.where(F.col("degree") >= k).select("host"))
    return deg.where(F.col("degree") >= k).select("host", "degree")


CC_ITERS = 5


def connected_components(edges: DataFrame, iters: int = CC_ITERS) -> DataFrame:
    """Connected components of the undirected domain graph by
    fixed-round synchronous hash-min propagation — the mirror-site /
    link-farm blob detector next to label_propagation's community
    split: every host starts labeled with itself, and each round takes
    the MIN of its own label and its neighbors' labels. After r rounds
    every host carries the smallest host id within r hops, so
    components with diameter <= `iters` are exact; the emitted
    `stable` flag (label unchanged in the final round) makes the
    fixed-round cut honest per row instead of silently truncating.

    Deterministic and engine-exact: labels are STRINGS ordered by
    plain lexicographic min — no RNG, no floats, no convergence test.
    (At 100 TB you would switch the recurrence to large-star/small-star
    alternation [Kiveris et al. 2014] to shortcut long chains in
    O(log^2 n) rounds; the per-round plan below — one equi-join + one
    min-aggregate — is the same building block.)

    Scale shape: runs at the DOMAIN grain on the symmetrized distinct
    edge list. Each round is one equi-join of edges with the current
    labels + one map-side-combined MIN aggregate + a coalesce against
    the host's own label; the label relation is checkpointed per
    round (the pagerank lineage discipline). Component sizes come from
    one count over the final label column.

    Output: host, comp (STRING — smallest reachable host id within
    `iters` hops), comp_size (BIGINT), stable (INT 0/1).
    """
    if iters < 1:
        raise ValueError(f"connected_components needs iters >= 1, got {iters}")
    sym = materialize(_sym_edges(edges))
    labels = materialize(
        sym.select(F.col("s").alias("host"))
        .distinct()
        .select("host", F.col("host").alias("label"))
    )
    prev = labels
    for _ in range(iters):
        neigh_min = (
            sym.join(labels.select(F.col("host").alias("t"), "label"), "t")
            .groupBy(F.col("s").alias("host"))
            .agg(F.min("label").alias("nmin"))
        )
        prev = labels
        labels = materialize(
            labels.join(neigh_min, "host", "left")
            .select(
                "host",
                F.least(
                    "label", F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
        )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("comp_size")
    )
    return (
        labels.join(
            prev.select("host", F.col("label").alias("plabel")), "host"
        )
        .join(sizes, "label")
        .select(
            "host",
            F.col("label").alias("comp"),
            "comp_size",
            (F.col("label") == F.col("plabel")).cast("int").alias("stable"),
        )
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-host triangle participation over the undirected domain graph
    — the clustering signal link-farm detection keys on (organic
    neighborhoods close triangles; spam rings are bipartite-ish).

    The classic skew-safe shape (Suri & Vassilvitskii's degree-ordered
    orientation): orient every undirected edge from its lower-(degree,
    host) endpoint to the higher one. The oriented out-degree is
    O(sqrt(m)) even for celebrity hosts, so the wedge join below never
    explodes on a hub — the naive neighbor self-join would square a
    10^6-degree hub into 10^12 wedge rows. Wedges (u->v, u->w) join on
    the LOW endpoint u and close against the oriented edge (v, w); each
    triangle is found exactly once at its lowest-rank vertex, then
    exploded to credit all three hosts.

    Shape: degree aggregate, two endpoint-degree equi-joins, wedge
    equi-join on u, closing equi-join on (v, w), one final count — all
    domain-grain equi-joins, no windows.

    Output: host, n_triangles (BIGINT).
    """
    sym = _sym_edges(edges)
    deg = sym.groupBy(F.col("s").alias("host")).agg(
        F.count(F.lit(1)).alias("d")
    )
    g = (
        sym.join(deg.select(F.col("host").alias("s"), F.col("d").alias("ds")), "s")
        .join(deg.select(F.col("host").alias("t"), F.col("d").alias("dt")), "t")
    )
    ordered = g.where(
        (F.col("ds") < F.col("dt"))
        | ((F.col("ds") == F.col("dt")) & (F.col("s") < F.col("t")))
    ).select(
        F.col("s").alias("a"),
        F.col("t").alias("b"),
        F.col("dt").alias("db"),
    )
    e1, e2 = ordered.alias("e1"), ordered.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.a") == F.col("e2.a"))
        .where(
            (F.col("e1.db") < F.col("e2.db"))
            | (
                (F.col("e1.db") == F.col("e2.db"))
                & (F.col("e1.b") < F.col("e2.b"))
            )
        )
        .select(
            F.col("e1.a").alias("u"),
            F.col("e1.b").alias("v"),
            F.col("e2.b").alias("w"),
        )
    )
    tri = wedges.join(
        ordered.select(F.col("a").alias("v"), F.col("b").alias("w")),
        ["v", "w"],
    )
    return (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias(
                "host"
            )
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of the undirected domain graph — organic
    webs are disassortative (hubs link to leaves, r < 0) while link
    farms wire hub-to-hub (r -> +1), so the SIGN alone is a spam-shape
    signal. Over the symmetrized distinct edge list (each undirected
    edge contributes both orientations, the standard convention) with
    x, y the endpoint degrees:

      r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    The moments are EXACT int64 sums (one degree aggregate + two
    endpoint joins + one global aggregate — all domain-grain); only the
    final r^2 ratio is evaluated in doubles (each moment converts once,
    one IEEE multiply chain, floored once to basis points — the ln-floor
    discipline applied to a ratio), because the cross-moment products
    overflow int64 at web scale while the double rounding is
    bit-identical across engines.

    Output (one row): n_edges, sx, sxy, sxx, r_sign, r2_bp.
    """
    sym = _sym_edges(edges)
    deg = sym.groupBy(F.col("s").alias("host")).agg(
        F.count(F.lit(1)).alias("d")
    )
    xy = (
        sym.join(deg.select(F.col("host").alias("s"), F.col("d").alias("x")), "s")
        .join(deg.select(F.col("host").alias("t"), F.col("d").alias("y")), "t")
    )
    mom = xy.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # by symmetry sy = sx and syy = sxx, so den = (n*sxx - sx^2)^2
    num = F.col("n_edges") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("n_edges") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.select(
        "n_edges",
        "sx",
        "sxy",
        "sxx",
        F.when(num > 0, F.lit(1))
        .when(num < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r_sign"),
        F.when(
            den != 0,
            F.floor(
                (num.cast("double") * num.cast("double"))
                / (den.cast("double") * den.cast("double"))
                * F.lit(10000.0)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("r2_bp"),
    )


def typosquat_pairs(edges: DataFrame, max_dist: int = 1) -> DataFrame:
    """Typosquat / look-alike domain detection: host pairs within
    `max_dist` Levenshtein edits — the phishing-infrastructure signal a
    crawl's link graph surfaces for free (a 1-edit neighbor of a
    popular host is rarely innocent).

    Scale shape: edit distance needs pairs, and all-pairs over 10^8
    hosts is off the table — candidates come from LENGTH BLOCKING:
    dist <= d implies |len(a) - len(b)| <= d, so each host emits block
    keys len..len-d and pairs form only within a block (complete by
    construction, the setsim_join "no false negatives" discipline; at
    web scale one would add a first-chars subkey, same idea). The
    distance itself is the built-in levenshtein — identical classic DP
    in both engines.

    Output: host_a, host_b, dist (BIGINT).
    """
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .unionByName(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    blocked = hosts.select(
        "host",
        F.explode(
            F.sequence(
                F.length("host") - max_dist, F.length("host")
            )
        ).alias("bk"),
    )
    pairs = (
        blocked.alias("a")
        .join(blocked.alias("b"), "bk")
        .where(F.col("a.host") < F.col("b.host"))
        .select(
            F.col("a.host").alias("host_a"), F.col("b.host").alias("host_b")
        )
        .distinct()
    )
    return pairs.select(
        "host_a",
        "host_b",
        F.levenshtein("host_a", "host_b").cast("long").alias("dist"),
    ).where(F.col("dist") <= max_dist)


#: TextRank word filter: lowercase alphabetic, >= 3 chars (anchored in
#: Spark; the oracle uses regexp_full_match with the unanchored body).
TEXTRANK_WORD_RE = "^[a-z]{3,}$"
#: drop hapax co-occurrence edges — bounds the word graph by the
#: repeated-collocation vocabulary, not the token stream.
TEXTRANK_MIN_COOC = 2


def textrank_keywords(documents: DataFrame, k: int = 30) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus word co-occurrence graph — an unsupervised keyword
    ranker that needs no training data, the standard pre-LLM baseline a
    curation pipeline uses to tag documents at scale.

    Graph construction: the shared corpus tokenizer, filtered to
    lowercase alphabetic words of >= 3 chars; an undirected edge joins
    each ADJACENT pair in the filtered sequence (window 2), weighted by
    corpus-wide co-occurrence count, hapax edges dropped
    (TEXTRANK_MIN_COOC). The ranking is the module's fixed-iteration
    integer `pagerank` verbatim — symmetric edge list, exact scaled-
    integer arithmetic, checkpointed iterate — so TextRank inherits
    every cross-engine-exactness and lineage property domain_pagerank
    already proved.

    Scale shape: one codegen'd scan builds the pair stream (token array
    MATERIALIZED first — the shingles_over CSE contract — then a
    zip-shift transform, never a self-join); one map-side-combined
    (a, b) aggregate bounds everything downstream by the collocation
    vocabulary; the iterations run on the word graph, never the corpus.
    Final top-k is TakeOrderedAndProject on (rank desc, word asc).

    Output: rank (1..k), word, n_out, rank_scaled.
    """
    words = documents.where(F.col("text").isNotNull()).select(
        F.split(
            F.trim(ascii_lower(F.col("text"))), WS_RE
        ).alias("_w")
    )
    filt = words.select(
        F.expr(f"filter(_w, x -> x rlike '{TEXTRANK_WORD_RE}')").alias("_f")
    )
    pairs = filt.where(F.array_size("_f") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.array_size("_f") - 1),
                lambda i: F.struct(
                    F.least(
                        F.element_at(F.col("_f"), i),
                        F.element_at(F.col("_f"), i + 1),
                    ).alias("a"),
                    F.greatest(
                        F.element_at(F.col("_f"), i),
                        F.element_at(F.col("_f"), i + 1),
                    ).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b").where(F.col("a") != F.col("b"))
    ec = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .where(F.col("n_links") >= TEXTRANK_MIN_COOC)
    )
    edges = ec.select(
        F.col("a").alias("src_host"),
        F.col("b").alias("dst_host"),
        "n_links",
    ).unionByName(
        ec.select(
            F.col("b").alias("src_host"),
            F.col("a").alias("dst_host"),
            "n_links",
        )
    )
    ranks = pagerank(edges)
    order = [F.col("rank_scaled").desc(), F.col("host").asc()]
    return topk(ranks, k, order).select(
        "rank", F.col("host").alias("word"), "n_out", "rank_scaled"
    )


#: Adamic-Adar hub cap: common neighbors with more distinct neighbors
#: than this contribute nothing and are EXCLUDED before the pair
#: fan-out — a host linked by everyone is weak evidence for any
#: specific pair, and the cap bounds the candidate explosion (sum of
#: deg^2 over uncapped hubs) that would otherwise dominate at web
#: scale.
LP_DEG_CAP = 64
LP_MIN_COMMON = 2


def link_prediction(
    edges: DataFrame,
    deg_cap: int = LP_DEG_CAP,
    min_common: int = LP_MIN_COMMON,
) -> DataFrame:
    """Adamic-Adar link prediction over the undirected domain graph —
    "which domains will link next": non-adjacent host pairs scored by
    their common neighbors, rare neighbors weighted up
    (Adamic & Adar 2003, "Friends and neighbors on the Web"):

        AA(u, v) = sum over common w of 1 / ln(deg(w))

    kept exact-integer as aa_micro = sum of 10^12 DIV floor(ln(deg_w)
    * 10^6) — ln of an integer-valued double floored once is the
    proven cross-engine idiom (parity_ln_floor); deg_w >= 2 always
    (w neighbors both u and v), so the divisor is never zero.

    Scale shape: the pair fan-out goes through the HUB-CAPPED wedge
    join (deg(w) <= deg_cap, the item_covisitation discipline) — each
    kept w fans out at most C(deg_cap, 2) pairs; the score is one
    map-side-combined (u, v) aggregate; existing edges drop via a
    left_anti against the symmetric edge list; min_common prunes the
    long random tail.

    Output: host_a, host_b, n_common, aa_micro.
    """
    sym = _sym_edges(edges)
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    term = F.expr("1000000000000 DIV CAST(floor(ln(CAST(deg AS DOUBLE))"
                  " * 1000000) AS BIGINT)")
    mid = (
        sym.select(F.col("s").alias("w"), F.col("t").alias("u"))
        .join(
            deg.where(F.col("deg") <= deg_cap)
            .where(F.col("deg") >= 2)
            .select(F.col("s").alias("w"), term.alias("_term")),
            "w",
        )
    )
    a, b = mid.alias("a"), mid.alias("b")
    wedges = a.join(
        b,
        (F.col("a.w") == F.col("b.w")) & (F.col("a.u") < F.col("b.u")),
    ).select(
        F.col("a.u").alias("host_a"),
        F.col("b.u").alias("host_b"),
        F.col("a._term").alias("_term"),
    )
    scored = wedges.groupBy("host_a", "host_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("_term").alias("aa_micro"),
    )
    return scored.join(
        sym.select(
            F.col("s").alias("host_a"), F.col("t").alias("host_b")
        ),
        ["host_a", "host_b"],
        "left_anti",
    ).where(F.col("n_common") >= min_common)


def reciprocity(edges: DataFrame) -> DataFrame:
    """Link reciprocity of the directed domain graph — one row: how many
    distinct (u, v) links are returned by a (v, u) link. Organic
    communities reciprocate; link farms and SEO pyramids are one-way
    (reciprocity is a standard spam-graph feature next to TrustRank).

    Shape: the distinct directed pair set self-joins once on the
    reversed key — domain-grain, map-side-combined counts, output is a
    single row.

    Output: n_edges, n_recip, recip_bp.
    """
    e = (
        edges.where(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
    )
    rev = e.select(
        F.col("dst_host").alias("src_host"),
        F.col("src_host").alias("dst_host"),
    )
    stats = e.join(rev, ["src_host", "dst_host"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_recip")
    )
    total = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return total.crossJoin(stats).select(
        "n_edges",
        "n_recip",
        F.expr("n_recip * 10000 DIV n_edges").alias("recip_bp"),
    )


CP_ITERS = 4
CP_COST_SCALE = 1_000_000


def cheapest_paths(
    edges: DataFrame, seeds_k: int = BFS_SEEDS, iters: int = CP_ITERS
) -> DataFrame:
    """Bounded-hop min-plus cheapest paths over the domain graph — the
    WEIGHTED sibling of bfs_depth: edge cost = CP_COST_SCALE DIV
    (1 + n_links), so heavily-linked hops are cheap and the distance
    reads as crawl effort, not hop count. dist(host) is the exact
    minimum path cost over <= iters hops from the same deterministic
    seed set bfs_depth uses (total outlink weight desc, host asc);
    unreached hosts are absent. All-integer min-plus: sums and mins of
    BIGINTs, no floats anywhere.

    Shape per round: ONE equi-join of the current distance relation
    with the (checkpointed) weighted edge list + one map-side MIN
    aggregate, checkpointed so lineage stays flat (the
    connected_components discipline). Relaxation runs from ALL current
    distances each round — correct and simple at domain grain; the
    100 TB upgrade is frontier-only / delta-stepping relaxation, a
    documented swap that does not change the fixed-round semantics.

    Output: host, dist_micro (0 for seeds).
    """
    edges = materialize(edges)
    w_edges = edges.select(
        "src_host",
        "dst_host",
        F.expr(f"{CP_COST_SCALE} DIV (1 + n_links)").alias("w"),
    )
    seeds = (
        edges.groupBy("src_host")
        .agg(F.sum("n_links").alias("_w"))
        .orderBy(F.desc("_w"), F.asc("src_host"))
        .limit(seeds_k)
        .select(F.col("src_host").alias("host"))
    )
    dist = materialize(seeds.select("host", F.lit(0).cast("long").alias("dist_micro")))
    for _ in range(iters):
        relaxed = w_edges.join(
            dist, w_edges["src_host"] == dist["host"]
        ).select(
            F.col("dst_host").alias("host"),
            (F.col("dist_micro") + F.col("w")).alias("dist_micro"),
        )
        dist = materialize(
            dist.unionByName(relaxed)
            .groupBy("host")
            .agg(F.min("dist_micro").alias("dist_micro"))
        )
    return dist
