"""Host-level link analysis: the crawl-prioritization side of a web
pipeline. CommonCrawl publishes per-domain centrality ranks precisely so
downstream corpora can weight/prune by domain importance; this module
computes the same family of scores over an edge table with deterministic
integer arithmetic (gate-hashable — no float drift between engines).

Engine shape: the rank table is (host, rank) — ORDERS smaller than the
page/link tables. Each power iteration is one join (edges x ranks on src)
plus one aggregate (sum per dst): the canonical iterative Spark workload.
The iteration counts are fixed so the oracle unrolls the same layers.
Every fixpoint is size-adaptive (below); the BFS operators (``bfs_depth``,
``bowtie``) run on ``graph_iter.reach``'s two arms, and PageRank and
TrustRank share one recurrence (``_teleport_rank``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import driver_arm
from ..localdf import arrow_local_df
from . import graph_iter
from .dedup import md5_uniform

# PageRank in micro-units: damping 0.85 as the exact rational 85/100,
# teleport mass 0.15 * 1e6 = 150000. All divisions are integer `div` with
# identical truncation in Spark and DuckDB, so k iterations are bit-exact.
RANK_SCALE = 1_000_000
TELEPORT_MICRO = 150_000

# Size-adaptive driver arm (``driver_arm``, the ``connected_components``
# discipline): every iterative operator here runs its fixpoint over the
# HOST-PAIR dim — orders smaller than the page/link tables it is derived
# from. The corpus-scale work (aggregating page-level links into weighted
# host->host edges) stays distributed; when the aggregated edge dim fits
# ``driver_arm.ROW_CAP``, the k fixpoint rounds run driver-side in exact
# Python integers instead of paying k * (join + aggregate +
# localCheckpoint) job rounds — measured ~50-100 ms of per-round fixed
# cost on a 100-host graph, i.e. the whole wall for dim-sized graphs.
# Python ``//`` on the nonnegative values used here equals BIGINT ``div``
# truncation, and Python ints cannot wrap, so both arms are bit-exact
# (pinned by tests/test_linkgraph_driver_arm.py).


def _weighted_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, n) multi-edge multiplicities — the host-pair dim every
    iterative operator consumes (multiplicity-preserving, so both arms see
    identical semantics). Materialized once: the driver-arm probe and the
    distributed loop both read the checkpoint."""
    return (
        edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )


def _triples(pdf) -> list[tuple]:
    """(src, dst, n) rows of a collected ``_weighted_edges`` frame."""
    return list(zip(pdf["src"], pdf["dst"], (int(x) for x in pdf["n"])))


def _driver_graph(edges: DataFrame, hosts: DataFrame) -> tuple:
    """The driver arm's inputs: ``edges`` as pandas and the ``host`` column
    of ``hosts`` (the nodes or the seeds) as a list; (None, None) when
    either exceeds ``driver_arm.ROW_CAP`` (the edge probe does not bound
    the host table), and the caller runs its distributed loop."""
    pdf = driver_arm.collect_if_small(edges, driver_arm.ROW_CAP)
    hpdf = None if pdf is None else driver_arm.collect_if_small(
        hosts.select("host"), driver_arm.ROW_CAP)
    return (None, None) if hpdf is None else (pdf, hpdf["host"].tolist())


def _rank_rounds(
    triples, node_hosts, seed_set, iterations: int
) -> list[tuple]:
    """Driver arm of ``_teleport_rank`` over collected host-pair triples —
    exact mirror of the distributed loop's integer semantics: out_deg
    counts EVERY out-edge of src (any dst); only src in the node dim
    contribute (their rank is defined); inbound mass to dst outside the
    node dim is discarded by the node-dim join. ``seed_set=None`` means
    every node is a seed."""
    out_deg: dict = {}
    for s, _d, n in triples:
        out_deg[s] = out_deg.get(s, 0) + n
    nodes_l = list(node_hosts)
    node_set = set(nodes_l)
    is_seed = {v: int(seed_set is None or v in seed_set) for v in nodes_l}
    rank = {v: RANK_SCALE * is_seed[v] for v in nodes_l}
    for _ in range(iterations):
        inbound: dict = {}
        for s, d, n in triples:
            r = rank.get(s)
            if r is None or d not in node_set:
                continue
            inbound[d] = inbound.get(d, 0) + n * (r // out_deg[s])
        rank = {
            v: TELEPORT_MICRO * is_seed[v] + 85 * inbound.get(v, 0) // 100
            for v in nodes_l
        }
    return [(v, rank[v]) for v in nodes_l]


def _teleport_rank(
    edges: DataFrame, nodes: DataFrame, seeds: DataFrame | None,
    iterations: int,
) -> DataFrame:
    """The one rank recurrence behind ``pagerank_integer`` and
    ``trustrank_integer``: rank_0 = 1e6 micro at seeds, 0 elsewhere; each
    iteration every node sends ``rank div out_degree`` along each out-edge
    and ``rank_{k+1} = (seed ? 150000 : 0) + 85 * inbound_sum div 100``.
    ``seeds=None`` makes every node a seed (PageRank) with no seed collect
    and no seed join.

    Scale: each iteration shuffles once on src (join) and once on dst
    (aggregate). The edge+degree frame is localCheckpointed once (it is
    consumed k times); the ranks lineage is a static k-deep DAG that
    Catalyst plans whole at k=10 — for much larger k, checkpoint every
    few rounds, the discipline ``graph_iter`` already applies."""
    w = _weighted_edges(edges)
    pdf = driver_arm.collect_if_small(w, driver_arm.ROW_CAP)
    if pdf is not None:
        # bound: one row per host of the caller's host tables, unprobed
        # (every caller passes a host dim or the edges' endpoints)
        seed_set = None if seeds is None else {
            r["host"] for r in seeds.select("host").collect()}
        rows = _rank_rounds(
            _triples(pdf), (r["host"] for r in nodes.collect()), seed_set,  # bound: as above
            iterations)
        return arrow_local_df(nodes.sparkSession,
            rows, "host string, rank_micro long")
    out_deg = w.groupBy("src").agg(F.sum("n").alias("out_deg"))
    ed = w.join(out_deg, "src").select("src", "dst", "n", "out_deg")
    ed = ed.localCheckpoint()  # reused k times; cut the rebuild lineage
    base = nodes.select(F.col("host").alias("node"))
    if seeds is None:
        rank0, teleport = F.lit(RANK_SCALE), F.lit(TELEPORT_MICRO)
    else:
        base = (
            base.join(seeds.select(F.col("host").alias("node"),
                                   F.lit(1).alias("is_seed")), "node", "left")
            .select("node", F.coalesce(F.col("is_seed"), F.lit(0)).alias("is_seed"))
            .localCheckpoint()  # consumed every iteration
        )
        rank0 = (F.col("is_seed") * RANK_SCALE).cast("long")
        teleport = F.col("is_seed") * TELEPORT_MICRO
    ranks = base.select("node", rank0.alias("rank_micro"))
    for _ in range(iterations):
        contribs = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("n * (rank_micro div out_deg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inbound"))
        )
        ranks = base.join(contribs, "node", "left").select(
            "node",
            (teleport + F.expr("85 * coalesce(inbound, 0) div 100"))
            .cast("long").alias("rank_micro"),
        )
    return ranks.select(F.col("node").alias("host"), "rank_micro")


def pagerank_integer(
    edges: DataFrame, nodes: DataFrame, iterations: int = 10,
) -> DataFrame:
    """Deterministic integer PageRank over (src, dst) edges.

    Semantics: rank_0 = 1e6 micro for every node; each iteration every
    node sends ``rank div out_degree`` along each out-edge and
    ``rank_{k+1} = 150000 + 85 * inbound_sum div 100``. Divisions truncate
    (BIGINT ``div``), so the fixpoint is exactly reproducible in any
    engine — the float-free analogue of the textbook update (monotone in
    the float ranks; CommonCrawl-style domain weighting only consumes the
    ORDER, which truncation at micro-resolution does not disturb).

    Dangling nodes (no out-edges) simply don't emit — their mass retires
    to the teleport term, one of the standard dangling conventions.

    ``edges`` is host-to-host (already aggregated below page level); the
    recurrence is ``_teleport_rank`` with every node a seed.
    """
    return _teleport_rank(edges, nodes, None, iterations)


def _hits_rounds(triples, node_hosts, iterations: int) -> list[tuple]:
    """Driver-side HITS fixpoint — exact mirror of the distributed loop,
    including the subtlety that the L-infinity max is taken over the RAW
    contribution table BEFORE the node-dim join (an edge endpoint outside
    the node dim still participates in the max)."""
    nodes_l = list(node_hosts)
    rev = [(d, s, n) for s, d, n in triples]

    def half_step(pairs, score: dict) -> dict:
        raw: dict = {}
        for a, b, n in pairs:
            x = score.get(a)
            if x is not None:
                raw[b] = raw.get(b, 0) + n * x
        mx = max(max(raw.values(), default=1), 1)
        return {v: raw.get(v, 0) * RANK_SCALE // mx for v in nodes_l}

    hubs = {v: RANK_SCALE for v in nodes_l}
    for _ in range(iterations):
        auths = half_step(triples, hubs)
        hubs = half_step(rev, auths)
    return [(v, hubs[v], auths[v]) for v in nodes_l]


def hits_integer(
    edges: DataFrame, nodes: DataFrame, iterations: int = 5,
) -> DataFrame:
    """Deterministic integer HITS (Kleinberg 1999) over (src, dst) edges:
    hub/authority power iterations with L-infinity normalization in exact
    micro-units — the second classic link-centrality a crawl pipeline
    ranks hosts by (PageRank prunes globally; HITS separates *pointers-to-
    good-content* (hubs) from *good content* (authorities), the signal
    CommonCrawl-style seed selection uses).

    Semantics per iteration: ``auth_raw(v) = sum of hub over in-edges``,
    renormalized to ``auth = auth_raw * 1e6 div max(auth_raw)``; then
    ``hub_raw(v) = sum of the NEW auth over out-edges``, renormalized the
    same way. Max-normalization replaces the textbook L2 norm — a sqrt is
    not exactly representable in integers, while the max is, and the two
    norms agree on the ranking order (both are positive scalings of the
    same vector). All divisions are BIGINT ``div`` with identical
    truncation in DuckDB, so k iterations are bit-exact across engines.

    Scale shape of the distributed arm: each iteration is two half-steps,
    each one (join + aggregate) pass on the host-level edge table plus one
    SCALAR max aggregate that Spark plans as a 1-row broadcast into the
    renormalization — no window over the rank table. The edge frame is
    localCheckpointed once (consumed 2k times). Each half-step's raw
    contribution frame is ALSO localCheckpointed (load-bearing): unlike
    PageRank's linear recurrence, HITS consumes every contribution frame
    TWICE (the max aggregate and the renorm join), so an unbroken lineage
    quadruples per iteration (~4^k plan nodes — measured: plan
    stringification alone OOMs the driver at k=5). The checkpoint
    materializes only node-dim rank tables, orders smaller than the edge
    table, and keeps every plan iteration-local."""
    if iterations < 1:
        raise ValueError("hits_integer: iterations must be >= 1")
    ed = _weighted_edges(edges)
    pdf, node_l = _driver_graph(ed, nodes)
    if pdf is not None:
        rows = _hits_rounds(_triples(pdf), node_l, iterations)
        return arrow_local_df(nodes.sparkSession,
            rows, "host string, hub_micro long, auth_micro long")

    def half_step(score: DataFrame, frm: str, to: str, out: str) -> DataFrame:
        # score (node, value) pushed along frm -> to edges, then
        # L-inf renormed into column ``out``
        raw = (
            ed.join(score, ed[frm] == score["node"])
            .groupBy(ed[to].alias("node"))
            .agg(F.sum(F.col("n") * F.col(score.columns[1])).alias("raw"))
        ).localCheckpoint()
        mx = raw.agg(
            F.greatest(F.coalesce(F.max("raw"), F.lit(1)), F.lit(1)).alias("mx")
        )
        return (
            nodes.select(F.col("host").alias("node"))
            .join(raw, "node", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "node",
                F.expr(f"coalesce(raw, 0) * {RANK_SCALE} div mx").alias(out),
            )
        )

    hubs = nodes.select(
        F.col("host").alias("node"), F.lit(RANK_SCALE).alias("hub_micro")
    )
    for _ in range(iterations):
        auths = half_step(hubs, "src", "dst", "auth_micro")
        hubs = half_step(auths, "dst", "src", "hub_micro")
    return (
        hubs.join(auths, "node")
        .select(F.col("node").alias("host"), "hub_micro", "auth_micro")
    )


def host_graph(
    links: DataFrame,
    src_col: str = "src_host",
    dst_url_col: str = "dst_url",
    keep_self: bool = False,
) -> DataFrame:
    """Aggregate page-level outlinks into the weighted host->host graph —
    the CommonCrawl host/domain-graph product (what ``pagerank_integer``
    and ``hits_integer`` consume): (src_host, dst_host, n_links).

    Intra-host edges are dropped by default (site navigation dominates
    raw link counts and carries no cross-site endorsement — the standard
    domain-graph convention); ``keep_self`` retains them.

    Scale shape: one map-side host projection off the link table, one
    aggregate keyed by (src_host, dst_host) — the host-pair dim, orders
    smaller than the page-level link table (partial aggregation collapses
    per-partition duplicates before the shuffle). No window, no join."""
    e = links.select(
        F.col(src_col).alias("src_host"),
        F.regexp_extract(F.col(dst_url_col), "^https?://([^/]+)", 1).alias(
            "dst_host"
        ),
    )
    if not keep_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links")
    )


def kcore(
    edges: DataFrame, k: int = 3, rounds: int = 4,
) -> DataFrame:
    """Deterministic synchronous k-core peeling over the SIMPLE undirected
    view of (src, dst) edges (multi-edges deduped, self-loops dropped) —
    the link-farm / spam-cluster density signal a crawl pipeline computes
    next to PageRank and LPA: hosts surviving the k-core sit in densely
    interlinked neighborhoods (SEO farms link-exchange; legitimate hubs
    rarely sustain mutual density), Seidman 1983's cores applied the way
    Batagelj–Zaveršnik's peeling is used on host graphs.

    Each round drops every node whose degree in the currently-induced
    subgraph is < ``k``; all drops in a round are simultaneous (synchronous
    schedule), so the result is independent of any node ordering and
    bit-reproducible. ``rounds`` is FIXED so the DuckDB oracle unrolls the
    same layers; peeling converges in O(peel depth) rounds (measured: the
    fixture host graph is stable after 1), and the returned frame is the
    exact k-core whenever round ``rounds`` removed nothing — at corpus
    scale run the same loop to convergence with a per-round
    localCheckpoint (the lineage rationale of ``pagerank_integer``).

    Returns (host, degree): survivors with their degree in the final
    induced subgraph (degree may read < k only if the last round still
    peeled — same contract as the unrolled oracle by construction).

    Scale shape: the undirected simple edge frame is built once (one
    pass over ``edges`` with ``graph_iter.mirror_edges``, one distinct =
    one shuffle) and localCheckpointed; each round is two
    broadcast-or-hash semi-joins against the (host-dim-sized) alive set +
    one partial-aggregated degree count — no window, no all-pairs. The
    alive set is localCheckpointed per round: it feeds BOTH endpoint
    semi-joins, so without the cut the logical plan doubles every round
    (measured: 125 exchanges at rounds=4 vs 8 with the cut — the same
    ~4^k lineage-growth rationale as ``pagerank_integer``).
    """
    und = (
        graph_iter.mirror_edges(edges)
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    pdf = driver_arm.collect_if_small(und, driver_arm.ROW_CAP)
    if pdf is not None:
        pairs = list(zip(pdf["a"], pdf["b"]))
        alive = {a for a, _ in pairs}
        # round ``rounds`` + 1 only counts the final induced degrees
        for _ in range(rounds + 1):
            deg: dict = {}
            for a, b in pairs:
                if a in alive and b in alive:
                    deg[a] = deg.get(a, 0) + 1
            alive = {v for v, dg in deg.items() if dg >= k}
        return arrow_local_df(edges.sparkSession,
            sorted(deg.items()), "host string, degree long")
    alive = und.select(F.col("a").alias("host")).distinct()

    def _induced_deg(alive_hosts: DataFrame) -> DataFrame:
        return (
            und.join(alive_hosts.withColumnRenamed("host", "a"), "a")
            .join(alive_hosts.withColumnRenamed("host", "b"), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    for _ in range(rounds):
        alive = (
            _induced_deg(alive)
            .filter(F.col("degree") >= k)
            .select(F.col("a").alias("host"))
            .localCheckpoint()
        )
    return _induced_deg(alive).select(F.col("a").alias("host"), "degree")


def trustrank_integer(
    edges: DataFrame, nodes: DataFrame, seeds: DataFrame,
    iterations: int = 10,
) -> DataFrame:
    """Deterministic integer TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004) over (src, dst) edges: PageRank with the teleport restricted
    to a TRUSTED seed set — the spam-demotion counterpart to
    ``pagerank_integer``. Hosts reachable from the seeds through short,
    well-endorsed paths accumulate trust; link farms that inflate plain
    PageRank by interlinking among themselves starve, because no trust
    flows in from outside. A crawl pipeline reads the pagerank-vs-trustrank
    GAP as its spam signal, next to the ``kcore`` density signal.

    Semantics: rank_0 = 1e6 micro for seeds, 0 elsewhere; each iteration
    ``rank_{k+1} = (seed ? 150000 : 0) + 85 * inbound_sum div 100`` with
    the same truncating integer arithmetic as ``pagerank_integer`` (the
    per-SEED teleport of 150000 micro follows that function's per-node
    convention; downstream consumers read the ORDER of the scores, which
    a shared scale factor does not disturb). Bit-exact across engines —
    the DuckDB oracle unrolls the same k layers.

    The recurrence is ``_teleport_rank`` with the given seeds.
    """
    return _teleport_rank(edges, nodes, seeds, iterations)


def bfs_depth(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4,
) -> DataFrame:
    """Multi-source BFS hop distance from ``seeds`` over DIRECTED
    (src, dst) edges — crawl depth. A crawler's frontier expands hop by
    hop from its seed list, and "how many hops from a seed" is a standard
    quality/prioritization signal (OPIC-style crawlers budget by it;
    corpus audits report page-count-by-depth): shallow pages are
    hub/navigation-heavy, deep pages are where both long-tail content and
    crawler traps live.

    Semantics: depth(seed) = 0; depth(v) = the fewest hops from any seed,
    for hosts within ``rounds`` hops. All-integer and order-free, so the
    result is bit-reproducible and the DuckDB oracle unrolls ``rounds``
    synchronous min-relax layers (``depth(dst) = min(depth(dst),
    depth(src) + 1)``), which compute the same set. Hosts further than
    ``rounds`` hops are cut; the result is the whole BFS whenever the
    frontier empties within ``rounds``.

    Returns (host, depth) for REACHED hosts only; unreached hosts are
    absent (their depth is not representable, and downstream joins want
    the miss, not a sentinel).

    This is ``graph_iter.reach`` over the distinct (src, dst) pairs
    (multiplicity cannot change a min-depth, and the distinct keeps the
    driver-arm probe at host-pair size), renamed, with hops as bigint.
    """
    return graph_iter.reach(
        edges.select("src", "dst").distinct(), seeds,
        seed_col="host", max_iter=rounds,
    ).select(F.col("node").alias("host"), F.col("hops").cast("long").alias("depth"))


def bowtie(
    edges: DataFrame, nodes: DataFrame, pivot: str, rounds: int = 6,
) -> DataFrame:
    """Bowtie decomposition of a directed host graph (Broder et al.,
    WWW 2000 — the canonical macro-structure measurement of the web):
    classify every host relative to a PIVOT known to sit in the giant
    strongly-connected CORE. Forward BFS reach = {pivot's SCC ∪ OUT};
    backward BFS reach = {pivot's SCC ∪ IN}; the intersection IS the
    pivot's SCC (v is in it iff pivot→v and v→pivot). Crawl pipelines
    read the class mix as a frontier-health signal: a crawl stuck in OUT
    territory (reachable, never endorsed back) is trap/farm territory,
    and IN-heavy frontiers are feeder pages the ranker underweights.

    cls: 'core' (fwd ∧ bwd), 'in' (bwd only), 'out' (fwd only),
    'other' (neither — tendrils + disconnected, which a pivot-pair BFS
    cannot split further; Broder et al. lump them the same way without
    extra BFS waves).

    Determinism: pure reachability (order-free), so the result is
    bit-reproducible and the oracle unrolls the same layers. ``rounds``
    is fixed for the oracle mirror; the classes are exact whenever both
    BFS waves converge within ``rounds`` (verify round r == r+1 at the
    target scale, as the callers do on their fixtures).

    Scale shape: the distinct edge frame is materialized and probed once;
    both waves run through the same arm of ``graph_iter.reach``
    (``reach_driver`` on the collected pairs, or two ``reach_loop``s over
    the materialized frame and its reverse), plus two broadcast-able
    host-dim left joins for the classification — nothing here ever
    touches page-level row counts."""
    ed = (
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nxt"))
        .distinct()
        .localCheckpoint()
    )
    pdf, node_l = _driver_graph(ed, nodes)
    if pdf is not None:
        pairs = list(zip(pdf["node"], pdf["nxt"]))
        seed = [pivot] if pivot in set(node_l) else []
        fwd_d = graph_iter.reach_driver(pairs, seed, rounds)
        bwd_d = graph_iter.reach_driver([(d, s) for s, d in pairs], seed, rounds)
        rows = [
            (
                v,
                "core" if v in fwd_d and v in bwd_d
                else "in" if v in bwd_d
                else "out" if v in fwd_d
                else "other",
            )
            for v in node_l
        ]
        return arrow_local_df(nodes.sparkSession, rows, "host string, cls string")
    pv = nodes.filter(F.col("host") == pivot).select(F.col("host").alias("node"))
    fwd = graph_iter.reach_loop(ed, pv, rounds).select(
        F.col("node").alias("host"), F.lit(1).alias("_f"))
    bwd = graph_iter.reach_loop(
        ed.select(F.col("nxt").alias("node"), F.col("node").alias("nxt")),
        pv, rounds,
    ).select(F.col("node").alias("host"), F.lit(1).alias("_b"))
    return (
        nodes.join(fwd, "host", "left")
        .join(bwd, "host", "left")
        .select(
            "host",
            F.when(
                F.col("_f").isNotNull() & F.col("_b").isNotNull(),
                F.lit("core"),
            )
            .when(F.col("_b").isNotNull(), F.lit("in"))
            .when(F.col("_f").isNotNull(), F.lit("out"))
            .otherwise(F.lit("other"))
            .alias("cls"),
        )
    )


def cocitation(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Bibliographic-coupling host similarity (the Dean & Henzinger
    "related pages" move, WWW 1998, at host granularity): two hosts are
    related in proportion to their SHARED OUT-TARGETS — an endorsement
    signal link spam can't easily fake, and the standard "related
    domains" feature a crawl pipeline derives from the domain graph
    next to rank. Scored as integer cosine² in ppm:
    ``common² * 1e6 div (out_deg_a * out_deg_b)`` — exact integer
    arithmetic end to end, no float drift, hence gate-hashable.

    Shape: dedupe edges, self-join on the shared target (the inverted-
    index pair move of ``dedup.pair_candidates`` with dst as the posting
    key), count per unordered pair (src< ordering, no double-count),
    two broadcast joins against the host-dim out-degree table. Pair
    space is Σ in_deg(dst)² — on a host graph that's dim-bounded; at
    corpus scale hot universal targets are pruned by a max in-degree cut
    first (the stop-shingle cut of ``dedup.minhash_lsh_dups``: a target
    half the web links to carries no similarity information), keeping the
    join df-bounded rather than quadratic. ``min_common`` drops the common=1
    noise floor before the degree joins."""
    from pyspark.sql.functions import broadcast

    ed = edges.select("src", "dst").distinct()
    deg = ed.groupBy("src").agg(F.count("*").alias("deg"))
    pairs = (
        ed.alias("a")
        .join(
            ed.alias("b"),
            (F.col("a.dst") == F.col("b.dst"))
            & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(
            F.col("a.src").alias("host_a"), F.col("b.src").alias("host_b")
        )
        .agg(F.count("*").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return (
        pairs.join(
            broadcast(deg.select(F.col("src").alias("host_a"),
                                 F.col("deg").alias("deg_a"))), "host_a"
        )
        .join(
            broadcast(deg.select(F.col("src").alias("host_b"),
                                 F.col("deg").alias("deg_b"))), "host_b"
        )
        .select(
            "host_a", "host_b", "common",
            F.expr(
                "common * common * 1000000 div (deg_a * deg_b)"
            ).alias("cocite_ppm"),
        )
    )


def label_propagation(
    edges: DataFrame, nodes: DataFrame, iterations: int = 3,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    over an undirected view of (src, dst) edges — the community-detection
    pass a crawl pipeline runs on the host graph (mirror families, link
    farms) one level above ``connected_components``' reachability.

    Labels are 28-bit md5 prefixes of the host name (engine↔oracle
    portable, stable under any node ordering). Each iteration every node
    takes the MODAL label among its neighbors (multiplicity counted,
    multi-edges included), ties to the SMALLEST label; isolated nodes
    keep their label. The modal argmax is packed into one BIGINT —
    ``cnt * 2^29 + (2^28-1 - label)`` — so a plain ``max`` aggregate
    resolves (count desc, label asc) identically in Spark and DuckDB,
    and the whole run is bit-reproducible (no async/random order: the
    classic LPA nondeterminism is removed by the synchronous schedule +
    deterministic tie-break).

    Scale: per iteration one shuffle on src (label join) and one on dst
    (modal aggregate); the undirected edge frame is localCheckpointed
    once and reused every round. Labels converge to community ids in
    O(diameter) rounds; ``iterations`` is fixed so the oracle unrolls.
    Bound (like cluster.py's _PACK): the packed modal key
    ``cnt * 2^29 + (2^28-1 - lbl)`` requires per-(node, label) neighbor
    multiplicity cnt < 2^34 or the int64 pack overflows — Spark silently
    wraps where DuckDB errors, so engine and oracle would diverge. A node
    with 2^34 same-labeled neighbor edges (~1.7e10) is beyond any host
    graph (hosts are the nodes; the web's max host in-degree is ~1e8);
    pre-aggregate multiplicities with a cap before calling if an input
    could violate it.
    """
    w = _weighted_edges(edges)
    pdf, node_l = _driver_graph(w, nodes)
    if pdf is not None:
        import hashlib

        triples = _triples(pdf)
        lbl_d = {
            v: int(hashlib.md5(v.encode()).hexdigest()[:7], 16)
            for v in node_l
        }
        # undirected multiplicity view of the collected triples
        und_t = triples + [(d, s, n) for s, d, n in triples]
        for _ in range(iterations):
            cnt: dict = {}
            for s, d, n in und_t:
                lb = lbl_d.get(s)
                if lb is None:
                    continue
                key = (d, lb)
                cnt[key] = cnt.get(key, 0) + n
            packed: dict = {}
            for (d, lb), c in cnt.items():
                v = c * 536870912 + (268435455 - lb)
                if d not in packed or v > packed[d]:
                    packed[d] = v
            new_lbl = {d: 268435455 - packed[d] % 536870912 for d in packed}
            lbl_d = {v: new_lbl.get(v, lbl_d[v]) for v in node_l}
        return arrow_local_df(nodes.sparkSession, 
            [(v, lbl_d[v]) for v in node_l], "host string, community long")
    und = w.select("src", "dst", "n").unionAll(
        w.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "n")
    ).localCheckpoint()
    lbl = nodes.select("host", md5_uniform(F.col("host")).alias("lbl"))
    for _ in range(iterations):
        cnt = (
            und.join(lbl.withColumnRenamed("host", "src"), "src")
            .groupBy("dst", "lbl").agg(F.sum("n").alias("cnt"))
        )
        modal = cnt.groupBy("dst").agg(
            (
                F.lit(268435455)
                - F.max(F.col("cnt") * 536870912 + (F.lit(268435455) - F.col("lbl")))
                % 536870912
            ).alias("new_lbl")
        ).withColumnRenamed("dst", "host")
        lbl = lbl.join(modal, "host", "left").select(
            "host", F.coalesce("new_lbl", "lbl").alias("lbl")
        )
    return lbl.select("host", F.col("lbl").alias("community"))


def cheapest_paths(
    edges: DataFrame, seeds: DataFrame, rounds: int = 4,
) -> DataFrame:
    """Multi-source CHEAPEST path cost within ``rounds`` edges — the
    weighted complement of ``bfs_depth``: edge cost is derived from link
    multiplicity, cost(src, dst) = 1_000_000 div (1 + n_links), so
    heavily-linked routes are cheap to traverse (the crawl-effort model:
    a strongly-endorsed hop needs less budget per discovered page). Each
    synchronous Bellman-Ford round relaxes
    cost(dst) = min(cost(dst), cost(src) + edge_cost).

    The returned value is exactly "the cheapest path using at most
    ``rounds`` edges" — a well-defined quantity independent of
    convergence (unlike BFS, a cheaper longer route may still exist
    beyond the horizon; at corpus scale iterate to a fixpoint instead).
    All-integer min-relaxation: order-free, bit-reproducible, oracle
    unrolls identical rounds. Scale shape: the weighted edge view is
    host-dim-bounded and localCheckpointed once; each distributed round
    is one join + one min-aggregate into the reached table, which is
    localCheckpointed per round (it feeds both the relax join and the
    min-merge union, so an unbroken lineage doubles every round). BFS
    (``bfs_depth``) is the unit-cost case, but runs the frontier loop of
    ``graph_iter.reach`` instead: with unit costs the first hop that
    reaches a host is final, so it never re-relaxes the visited set."""
    w = (
        edges.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .select(
            "src", "dst",
            F.expr("1000000 div (1 + n_links)").alias("edge_cost"),
        )
        .localCheckpoint()
    )
    pdf, seed_l = _driver_graph(w, seeds)
    if pdf is not None:
        triples = list(zip(pdf["src"], pdf["dst"], (int(c) for c in pdf["edge_cost"])))
        reached_d = {h: 0 for h in seed_l}
        for _ in range(rounds):
            snap = dict(reached_d)  # relax from the PREVIOUS round, as the loop does
            for s, d, c in triples:
                if s in snap and (d not in reached_d or snap[s] + c < reached_d[d]):
                    reached_d[d] = snap[s] + c
        return arrow_local_df(edges.sparkSession,
            sorted(reached_d.items()), "host string, cost long")
    reached = seeds.select(F.col("host"), F.lit(0).cast("long").alias("cost"))
    for _ in range(rounds):
        step = (
            w.join(reached, w["src"] == reached["host"])
            .select(
                F.col("dst").alias("host"),
                (F.col("cost") + F.col("edge_cost")).alias("cost"),
            )
        )
        reached = (
            reached.unionAll(step)
            .groupBy("host")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint()
        )
    return reached
