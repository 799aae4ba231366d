"""Iterative graph operators: connected components, BFS reachability,
bounded alias-chain resolution.

These close the reference's three iterative-analysis shapes:

- **connected_components** — the reference's basic-block computation calls
  ``nx.weakly_connected_components`` on the per-function statement graph
  (``codeviews/CFG/CFG_c.py:41-49``). Engine form: iterative min-label
  propagation with pointer jumping, the standard Spark formulation — no
  graph ever lives on one machine.
- **reach** — the reference BFS-propagates interprocedural modifications
  to uses (``codeviews/SDFG/SDFG_c.py:1610-1638``) and closes derived-class
  hierarchies (``codeviews/CFG/CFG_cpp.py:407-438``). Engine form: frontier
  BFS over an edge DataFrame, min-hop semantics.
- **resolve_chains** — typedef expansion resolves alias→alias→base chains
  with a bounded loop (``tree_parser/c_parser.py:444-463``). Engine form:
  pointer-doubling self-composition of the mapping table; depth resolved
  doubles per round, so ``ceil(log2(max_depth))`` shuffles total.

Driver-loop discipline (same as ``knn.py``): convergence decided by a cheap
per-round count, lineage cut with ``localCheckpoint`` each round, hard
``max_iter`` backstop. At cluster scale each round is one shuffle-stage job;
pointer jumping keeps round counts logarithmic in component diameter — a
100 TB edge table with diameter-10^6 chains still converges in ~20 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import driver_arm
from ..localdf import arrow_local_df

# Closure's driver arm is a per-node BFS whose output can square the input,
# so its edge cap is a fifth of ``driver_arm.ROW_CAP``.
CLOSURE_ROW_CAP = 100_000
# Escape from the RDA and closure driver arms back to the distributed loop
# when their fact / pair set outgrows the driver (deep chains square).
DRIVER_FACT_CAP = 5_000_000


def mirror_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(a, b): both orientations of every edge, from ONE pass over
    ``edges`` (explode of the two orientations) instead of a self-union:
    Spark has no common-subplan reuse, so union(edges, edges.reversed)
    executes the caller's edge pipeline twice — for CC consumers whose
    edge table IS an expensive pair generator (exact-Jaccard in
    train_set/dedup_groups, the LSH verify in dedup_groups_embedding)
    that doubled the dominant stage."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) for the undirected graph of ``edges``;
    component = min node id in the component.

    SIZE-ADAPTIVE (``driver_arm``): the undirected edge table is
    materialized once and probed; up to ``driver_arm.ROW_CAP`` edges the
    components are solved by driver-side union-find on the collected pairs
    (a dedup pair graph is typically orders of magnitude smaller than its
    corpus — at bench scale the distributed loop spent ~3.4 s of per-round
    job overhead on a 244-edge graph the driver solves in microseconds).
    Above it, the distributed loop runs:

    Min-label propagation + pointer jumping:
      1. label(v) <- min(label(v), min over neighbors' labels)   (1 join)
      2. label(v) <- label(label(v))                             (1 join)
    Labels only decrease and are bounded below by the component min, so the
    loop converges; at a fixpoint step 1 forces label equality across every
    edge, hence label == component min. Step 2 (pointer jumping) compresses
    label chains so convergence is O(log diameter) rounds, not O(diameter).
    Both paths return identical results (pinned by test); nodes are derived
    from the edge set (isolated nodes: union them in afterwards, or seed
    with a node table before calling).
    """
    und = mirror_edges(edges, src, dst).distinct().localCheckpoint()
    pdf = driver_arm.collect_if_small(und, driver_arm.ROW_CAP)
    if pdf is not None:
        return _components_driver(und, pdf)
    labels = (
        und.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # step 1: min over neighborhood (neighbors' labels + own label)
        nbr = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.col("label").alias("old"),
            F.least(F.col("label"), F.col("nbr_min")).alias("label"),
        )
        # step 2: pointer jump — follow one indirection of the label table.
        # The convergence flag rides the same plan into the checkpoint, so
        # the change test is a scan of the materialized round output — no
        # extra per-round shuffle join.
        jump = labels.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        new_labels = (
            stepped.join(jump, "label", "left")
            .select(
                "node",
                F.least(F.col("label"), F.col("label2")).alias("label"),
                (F.least(F.col("label"), F.col("label2")) < F.col("old")).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_chg")).limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def _components_driver(und: DataFrame, pdf) -> DataFrame:
    """Union-find on the collected (a, b) edge table ``pdf`` — the
    small-graph arm of ``connected_components``. Representative = min node
    id, identical to the distributed loop's fixpoint."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:       # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by value: the smaller id becomes the root, so the root
            # IS the component min without a second pass
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(n, find(n)) for n in parent]
    t = und.schema["a"].dataType.simpleString()
    return arrow_local_df(und.sparkSession, rows, f"node {t}, component {t}")


def reach(
    edges: DataFrame,
    seeds: DataFrame,
    seed_col: str = "node",
    max_iter: int = 50,
) -> DataFrame:
    """(node, hops): min directed-BFS distance from any seed, seeds at 0,
    up to ``max_iter`` hops along the (src, dst) ``edges``.

    SIZE-ADAPTIVE like ``connected_components``: up to
    ``driver_arm.ROW_CAP`` edges the BFS runs driver-side over the
    collected adjacency (``reach_driver``; each frontier round of the
    distributed loop costs 3-4 jobs of fixed overhead — on a dim-sized
    graph the rounds are pure latency). Above it, ``reach_loop`` over the
    materialized edge frame. Both arms return identical (node, hops) sets
    (pinned by test). The two arms are this module's one BFS: linkgraph's
    crawl depth and bowtie waves call them too."""
    e = edges.select(F.col("src").alias("node"), F.col("dst").alias("nxt"))
    s = seeds.select(F.col(seed_col).alias("node"))
    pdf = driver_arm.collect_if_small(e, driver_arm.ROW_CAP)
    seed_pdf = None if pdf is None else driver_arm.collect_if_small(
        s.distinct(), driver_arm.ROW_CAP)  # the edge probe does not bound the seeds
    if seed_pdf is None:
        # the loop consumes e every round
        return reach_loop(e.localCheckpoint(), s, max_iter)
    hops = reach_driver(
        zip(pdf["node"].tolist(), pdf["nxt"].tolist()),
        seed_pdf["node"].tolist(), max_iter)
    t = e.schema["node"].dataType.simpleString()
    return arrow_local_df(
        e.sparkSession, list(hops.items()), f"node {t}, hops int")


def reach_driver(pairs, seeds, max_iter: int) -> dict:
    """Driver arm of ``reach``: {node: hops} by a worklist BFS from the
    ``seeds`` values over the collected (node, nxt) ``pairs``."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for a, b in pairs:
        adj[a].append(b)
    hops = {v: 0 for v in seeds}
    work = deque(hops)
    while work:
        v = work.popleft()
        h = hops[v] + 1
        if h > max_iter:
            continue
        for m in adj.get(v, ()):
            if m not in hops:
                hops[m] = h
                work.append(m)
    return hops


def reach_loop(e: DataFrame, seeds: DataFrame, max_iter: int) -> DataFrame:
    """Distributed arm of ``reach`` over a materialized (node, nxt) frame
    ``e`` from the (node) frame ``seeds``: each round joins only the
    *frontier* (nodes first reached last round) against ``e`` and
    anti-joins the visited set — work per round is proportional to the
    frontier, not the graph. Stops when the frontier empties (or at
    ``max_iter``)."""
    return _frontier_loop(
        seeds.distinct().withColumn("hops", F.lit(0)).localCheckpoint(),
        lambda frontier, visited, h: (
            frontier.join(e, "node")
            .select(F.col("nxt").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(h))
        ),
        range(1, max_iter + 1),
    )


def _frontier_loop(visited: DataFrame, step, rounds) -> DataFrame:
    """The frontier fixpoint of ``reach_loop`` and
    ``reaching_definitions``: for each round ``r`` of ``rounds``, the new
    facts ``step(frontier, visited, r)`` are materialized and appended to
    ``visited`` and become the next frontier; an empty round stops."""
    frontier = visited
    for r in rounds:
        nxt = step(frontier, visited, r).localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def reaching_definitions(
    edges: DataFrame,
    defs: DataFrame,
    max_iter: int = 60,
) -> DataFrame:
    """(node, var, def_node): definitions live at each node's entry of the
    (src, dst) ``edges`` from the (node, var) ``defs`` — the
    reference's core analysis (``codeviews/DFG/DFG_RDA.py`` via
    ``SDFG_c.py``'s gen/kill propagation): def d of ``var`` reaches node n
    iff a directed path d -> ... -> n exists with no intermediate
    redefinition of ``var``.

    Gen/kill frontier BFS: seed = each def pushed to its successors; a fact
    at node n propagates onward only if n does not itself define the var
    (the kill anti-join IS the def-kill set difference, realized as one
    distributed anti-join per round instead of per-node bitsets). Work per
    round is proportional to the frontier; facts are deduped against the
    visited set so each (node, var, def_node) is expanded once — termination
    in <= |V| rounds regardless of cycles.

    SIZE-ADAPTIVE like ``connected_components``: up to
    ``driver_arm.ROW_CAP`` edges the fixpoint is a driver-side worklist BFS
    over the collected adjacency (each distributed round costs ~4 jobs of
    fixed overhead — profiled ~2 s of sub-70 ms stages for
    graph_sdfg_interproc at sf0.1), with a ``DRIVER_FACT_CAP`` escape back
    to the distributed loop if the fact set explodes. Identical fact sets
    (pinned by test), including the max_iter depth bound."""
    d = defs.select("node", "var").distinct()
    e = edges.select(F.col("src").alias("node"), F.col("dst").alias("_dst"))
    pdf = driver_arm.collect_if_small(e, driver_arm.ROW_CAP)
    if pdf is not None:
        out = _rda_driver(e, pdf, d, max_iter)
        if out is not None:
            return out
    e = e.localCheckpoint()  # the distributed loop consumes e per round
    visited = (
        d.withColumnRenamed("node", "_def_as_node")
        .join(e.withColumnRenamed("node", "_def_as_node"), "_def_as_node")
        .select(
            F.col("_dst").alias("node"), "var",
            F.col("_def_as_node").alias("def_node"),
        )
        .distinct()
        .localCheckpoint()
    )
    return _frontier_loop(
        visited,
        lambda frontier, visited, _: (
            frontier.join(d, ["node", "var"], "left_anti")  # kill at node
            .join(e, "node")
            .select(F.col("_dst").alias("node"), "var", "def_node")
            .distinct()
            .join(visited, ["node", "var", "def_node"], "left_anti")
        ),
        range(max_iter),
    )


def _rda_driver(
    e: DataFrame, pdf, d: DataFrame, max_iter: int
) -> DataFrame | None:
    """Driver-side gen/kill worklist BFS — the small-graph arm of
    ``reaching_definitions``. Facts are expanded breadth-first with the
    same depth bound as the distributed rounds (initial push = depth 1,
    then ``max_iter`` extensions), so the emitted (node, var, def_node)
    set is identical. Returns None when the defs exceed
    ``driver_arm.ROW_CAP`` (the edge probe does not bound them) or the fact
    set exceeds ``DRIVER_FACT_CAP`` (caller falls back to the distributed
    loop)."""
    from collections import defaultdict, deque

    def_pdf = driver_arm.collect_if_small(d, driver_arm.ROW_CAP)
    if def_pdf is None:
        return None
    adj = defaultdict(list)
    for a, b in zip(pdf["node"].tolist(), pdf["_dst"].tolist()):
        adj[a].append(b)
    defset = set(zip(def_pdf["node"].tolist(), def_pdf["var"].tolist()))
    facts: set = set()
    work: deque = deque()
    for n, v in defset:
        for m in adj.get(n, ()):
            if (m, v, n) not in facts:
                facts.add((m, v, n))
                work.append((m, v, n, 1))
    while work:
        node, v, dn, depth = work.popleft()
        if depth > max_iter or (node, v) in defset:  # depth bound / killed
            continue
        for m in adj.get(node, ()):
            if (m, v, dn) not in facts:
                if len(facts) >= DRIVER_FACT_CAP:
                    return None
                facts.add((m, v, dn))
                work.append((m, v, dn, depth + 1))
    tn = e.schema["node"].dataType.simpleString()
    tv = d.schema["var"].dataType.simpleString()
    return arrow_local_df(
        e.sparkSession, sorted(facts),
        f"node {tn}, var {tv}, def_node {tn}",
    )


def transitive_closure(edges: DataFrame) -> DataFrame:
    """All (src, dst) pairs connected by a directed path of the (src, dst)
    ``edges``: the reference's
    inheritance/overload closure (``codeviews/CFG/CFG_cpp.py:407-438``
    closes the derived-class hierarchy; ``:2426-2534`` the overload set).

    Path doubling: P_{k+1} = P_k ∪ (P_k ∘ P_k), so paths up to length
    2^20 close in the loop's 20 rounds — log(longest path) shuffles, the
    right shape for deep hierarchies on a cluster. Output excludes the
    trivial (v, v) pairs unless the input has cycles through v.

    SIZE-ADAPTIVE like ``connected_components``: up to
    ``CLOSURE_ROW_CAP`` edges the closure is a driver-side per-node BFS
    over the collected adjacency (class hierarchies / overload registries
    are dim-sized), with a hard ``DRIVER_FACT_CAP`` escape back to the
    distributed loop if the closure explodes (deep chains square). Both
    return identical pair sets (pinned by test)."""
    paths = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct().localCheckpoint()
    )
    pdf = driver_arm.collect_if_small(paths, CLOSURE_ROW_CAP)
    if pdf is not None:
        out = _closure_driver(paths, pdf)
        if out is not None:
            return out.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    for _ in range(20):
        before = paths.count()
        comp = (
            paths.alias("p")
            .join(paths.alias("q"), F.col("p.b") == F.col("q.a"))
            .select(F.col("p.a").alias("a"), F.col("q.b").alias("b"))
        )
        paths = paths.unionByName(comp).distinct().localCheckpoint()
        if paths.count() == before:
            break
    return paths.select(F.col("a").alias("src"), F.col("b").alias("dst"))


def _closure_driver(paths: DataFrame, pdf) -> DataFrame | None:
    """Per-node BFS closure of the collected edge table ``pdf``; None if
    the pair count would exceed ``DRIVER_FACT_CAP`` (caller falls back to
    distributed)."""
    from collections import defaultdict

    adj = defaultdict(list)
    for a, b in zip(pdf["a"].tolist(), pdf["b"].tolist()):
        adj[a].append(b)
    rows, total = [], 0
    for start in adj:
        seen, stack = set(), list(adj[start])
        while stack:
            v = stack.pop()
            if v in seen:
                continue
            seen.add(v)
            stack.extend(adj.get(v, ()))
        total += len(seen)
        if total > DRIVER_FACT_CAP:
            return None
        rows.extend((start, v) for v in seen)
    t = paths.schema["a"].dataType.simpleString()
    return arrow_local_df(paths.sparkSession, rows, f"a {t}, b {t}")


def resolve_chains(mapping: DataFrame, max_iter: int = 8) -> DataFrame:
    """(alias, target, depth): follow the (alias, target) ``mapping``'s
    chains to their terminal.

    Pointer doubling: each round left-joins the current mapping's target side
    against itself and jumps non-terminal targets one full resolution step —
    resolved depth doubles per round, so chains up to 2^max_iter deep resolve.
    ``depth`` counts original hops. Cycles never terminate a row; the
    max_iter backstop leaves them at their last state (callers that need
    cycle detection compare depth against 2^max_iter)."""
    cur = mapping.select("alias", "target", F.lit(1).alias("depth")).localCheckpoint()
    for _ in range(max_iter):
        jump = cur.select(
            F.col("alias").alias("target"),
            F.col("target").alias("t2"),
            F.col("depth").alias("d2"),
        )
        nxt = cur.join(jump, "target", "left").select(
            "alias",
            F.coalesce(F.col("t2"), F.col("target")).alias("target"),
            F.when(F.col("t2").isNotNull(), F.col("depth") + F.col("d2"))
            .otherwise(F.col("depth"))
            .alias("depth"),
            F.col("t2").isNotNull().alias("_chg"),  # rides into the checkpoint
        ).localCheckpoint()
        changed = nxt.filter(F.col("_chg")).limit(1).count()
        cur = nxt.drop("_chg")
        if changed == 0:
            break
    return cur


def last_definition(rda: DataFrame) -> DataFrame:
    """The reference CLI's ``--last-def`` semantics (cli.py:35: 'adds last
    definition information to the DFG') as a REUSABLE operator: from a
    reaching-definitions fixpoint, keep only the NEAREST preceding
    definition per (node_id, var) — argmax over the reaching set.

    Definitions rank by ``def_node`` itself (later = nearer), which is
    exact whenever node ids are control-flow-ordered (the chain fixture,
    any topologically-numbered CFG). One partial-aggregating groupBy —
    map-side combine makes it a near-free pass at any scale."""
    return rda.groupBy("node_id", "var").agg(
        F.max_by(F.col("def_node"), F.col("def_node")).alias("last_def")
    )


def last_use(
    rda: DataFrame,
    uses: DataFrame,
    order_col: str | None = None,
) -> DataFrame:
    """The reference CLI's ``--last-use`` flag (cli.py:36) as a reusable
    operator: for each definition, the LAST use it reaches. ``uses`` is an
    arbitrary (node_id, var) relation — NOT a baked-in fixture formula —
    joined against the fixpoint on (node_id, var), then argmax'd per
    (def_node, var) by ``order_col`` (default: the use node id, exact under
    control-flow-ordered numbering). The join key is (node, var), the same
    key the fixpoint is already hashed on, so no extra shuffle of the big
    side."""
    use_cols = {"node_id", "var"}
    assert use_cols <= set(uses.columns), (
        f"uses relation must carry {sorted(use_cols)}, has {uses.columns}"
    )
    order = order_col or "node_id"
    return (
        rda.join(uses.select(*sorted(use_cols)).distinct(), ["node_id", "var"])
        .groupBy("def_node", "var")
        .agg(F.max_by(F.col("node_id"), F.col(order)).alias("last_use"))
    )
