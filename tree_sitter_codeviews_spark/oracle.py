"""DuckDB oracle SQL generators.

Each function returns ANSI SQL (DuckDB dialect) computing the same result as
the corresponding Spark query in ``__spark_entry__.queries()``, over the
pre-registered views (documents, lineitem, ...). Formulas are generated from
the same constants in ``layers.py`` / ``cells.py`` — single source of truth,
exact integer arithmetic, so value hashes match bit-for-bit.

Independence rule: the oracle shares the engine's *constants* (``layers``,
the numeric and regex constants of ``queries`` and ``operators``, and the
cell/segment SQL-text helpers of ``cells``, ``geometry`` and ``s2``), never
an engine operator, DataFrame builder or engine SQL builder — a bug in a
shared builder would pass on both sides. ``tests/test_oracle_util.py``
pins the rule.

Each recurring SQL idea is one private fragment below, and the oracles
compose them:

- doc points and cells: ``_pts0_only``, ``_pts_cte``, ``_cell_sql``, the
  ray-cast parity ``_pip`` over ``_edges_cte``, the raster ``_pix_cte``;
- page mentions: ``_mentions_cte``, ``_DOC_URL``;
- the doc graph: ``_graph_ctes``, ``_BROKEN_EDGES``, the reaching
  definitions ``_rda_ctes`` and the min-label ``_components_cte``;
- text: ``_TOKS``, the word n-grams ``_shingles_cte`` /
  ``_POS_SHINGLES_CTE`` / ``_TOKEN_POS_CTE``, the 3-gram pair overlap
  ``_OVERLAP_CTE`` and the Jaccard groups ``_jaccard_groups_cte``, the
  2-gram repetition ``_bigram_repetition``, the packing ``_pack_sql`` and
  the PII-scrub ``_SCRUB_HASH``;
- embeddings: ``_QUANT_CTE``, the cosine ``_cos`` and its top-k
  ``_cos_topk``, near-dup pairs ``_near_dups``, the LSH
  ``_lsh_buckets_cte`` / ``_lsh_pairs``, the IVF ``_ivf_route_ctes``, the
  squared distance ``_D2`` and the PQ ``_pq_encode_ctes`` / ``_adc_topk``;
- the host link graph: ``_host_edges_cte``, ``_host_nodes``, the unrolled
  fixpoints ``_rounds`` / ``_teleport_rank_sql`` / ``_min_relax_sql``, the
  BPE round ``_bpe_round``;
- event points: ``_event_points_cte``, the track window ``_TRACK``, the
  stay islands ``_stays_cte``, the fence join ``_fences_cte`` /
  ``_IN_FENCE`` / ``_fence_state_cte``, the DDA ``_route_points_cte``, the
  transit lines ``_LINES_CTE`` and the grid distance ``_sq_dist``.

Fixtures of one query family (the crawl canonicalizer, the HTML and
outlink extraction, the WARC blobs) sit next to that family.
"""

from __future__ import annotations

from . import cells, geometry, layers, s2
from .operators.ann import PQ_DSUB, PQ_K, PQ_M, PQ_SAMPLE_MOD
from .operators.curation import EMAIL_RE, LONG_DIGITS_RE
from .operators.relational import EVENT_TYPES
from .operators.textstats import (
    _PROFILES, _U_MAX, HOLDOUT_FRAC, SAMPLE_DEFAULT_RATE, SAMPLE_RATES,
)
from .queries import (
    AFFINITY_MIN_BOTH, CHORO_BINS, COLOC_MAX_USERS_PER_KEY, FENCE_MOD,
    FENCE_R, FENCE_SHIFT, HOP_SLIDE_S, HOP_WINDOW_S, HOTSPOT_SHIFT, IDW_R2,
    IDW_WSCALE, RESAMPLE_STEP, ROUTE_TOPK, STATION_MOD, STAY_MIN_PINGS,
    STAY_RADIUS, TRAJ_MAX_PX_PER_DAY, TRAJ_SIMPLIFY_AREA2,
    TRAJSIM_MAX_USERS_PER_CELL, TRAJSIM_MIN_SHARED, TRAJSIM_SHIFT,
    TRAJSIM_TOPK,
)

# ---------------------------------------------------------------------------
# fragments: doc points, cells and polygons
# ---------------------------------------------------------------------------


def _cell_sql(res: int) -> str:
    """Morton cell id at resolution ``res`` of the res-GRID_RES (gx, gy)."""
    shift = layers.GRID_RES - res
    if not shift:
        return cells.morton_sql("gx", "gy", res)
    return cells.morton_sql(f"(gx >> {shift})", f"(gy >> {shift})", res)


def _pts0_only() -> str:
    return f"""
pts0 AS (
  SELECT doc_id,
         {layers.DOC_GX_SQL} AS gx,
         {layers.DOC_GY_SQL} AS gy
  FROM documents
)"""


def _pts_cte(res: int = layers.GRID_RES) -> str:
    """CTEs 'pts0' and 'pts': deterministic doc points with skew + cell id."""
    return f"""{_pts0_only()},
pts AS (
  SELECT doc_id, gx, gy,
         {layers.LON_SQL.format(gx='gx')} AS lon,
         {layers.LAT_SQL.format(gy='gy')} AS lat,
         {_cell_sql(res)} AS cell_id
  FROM pts0
)"""


def _edges_cte() -> str:
    return f"edges AS (SELECT * FROM {layers.polygon_edges_sql_values()} AS e(polygon_id, x1, y1, x2, y2))"


def _admin_cte() -> str:
    return f"admin AS (SELECT * FROM {layers.polygon_admin_sql_values()} AS a(polygon_id, admin_level))"


_CROSSING = (
    "((e.y1 > p.lat) <> (e.y2 > p.lat)) AND "
    "(p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)"
)


def _pip(src: str, keys: str) -> str:
    """Ray-cast parity: ``keys`` + polygon_id for every polygon of ``edges``
    that contains a (lon, lat) point of ``src`` (odd crossing count)."""
    pk = ", ".join(f"p.{k.strip()}" for k in keys.split(","))
    return f"""SELECT {keys}, polygon_id FROM (
  SELECT {pk}, e.polygon_id, count(*) AS c
  FROM {src} p JOIN edges e ON ({_CROSSING})
  GROUP BY ALL
) WHERE c % 2 = 1"""


def _pix_cte(res: int) -> str:
    """CTEs 'g' and 'pix': the center (lon, lat) of every res-``res`` cell."""
    xs = cells.x_from_cell_sql("cell_id", res)
    ys = cells.y_from_cell_sql("cell_id", res)
    n = 1 << res
    return f"""g AS (SELECT range AS cell_id FROM range({1 << (2 * res)})),
pix AS (
  SELECT cell_id,
         -180.0 + 360.0 * ({xs} + 0.5) / {n} AS lon,
         -90.0 + 180.0 * ({ys} + 0.5) / {n} AS lat
  FROM g
)"""


# ---------------------------------------------------------------------------
# fragments: page mentions and the doc graph
# ---------------------------------------------------------------------------

_DOC_URL = "printf('https://host%04d.example/doc/%d', (doc_id % 100)::int, doc_id)"


def _mentions_cte() -> str:
    """CTE 'ment': one row per mention embedded in a page — doc_id, the
    page text length ``tlen``, mention index ``j`` (and ``entity_id``), the
    gazetteer index ``gi``, the page ``url`` and the ``surface``."""
    gi = layers.MENTION_IDX_SQL.format(j="j")
    return f"""
ment AS (
  SELECT doc_id, tlen, j, j::int AS entity_id, gi, {_DOC_URL} AS url,
         printf('GEO_%05d', gi) AS surface
  FROM (SELECT *, {gi} AS gi FROM (
    SELECT doc_id, length(text) AS tlen,
           unnest(generate_series(0, doc_id % 3)) AS j
    FROM documents))
)"""


def _graph_ctes() -> str:
    """CTEs n (nodes) and e (chain edges) of the deterministic doc graph."""
    cell5 = cells.morton_sql("(gx >> 5)", "(gy >> 5)", 5)
    return f"""{_pts0_only()},
n AS (
  SELECT doc_id % 100 AS graph_id, doc_id AS node_id, {cell5} AS label,
         CASE doc_id % 3 WHEN 0 THEN 'city' WHEN 1 THEN 'poi' ELSE 'region' END AS node_type
  FROM pts0
),
e0 AS (
  SELECT graph_id, node_id AS src,
         lead(node_id) OVER (PARTITION BY graph_id ORDER BY node_id) AS dst
  FROM n
),
e AS (SELECT graph_id, src, dst, 'next' AS edge_type FROM e0 WHERE dst IS NOT NULL)"""


_BROKEN_EDGES = "be AS (SELECT graph_id, src, dst FROM e WHERE src % 7 <> 3)"


def _rda_ctes() -> str:
    """The doc graph, its broken chain ``be``, the defs/uses fixture and
    the reaching-definitions recursion ``r(node, var, def_node)``: facts
    propagate along ``be``, blocked at nodes that redefine the var
    (left-join kill check in the recursive term). Needs WITH RECURSIVE."""
    return f"""{_graph_ctes()},
{_BROKEN_EDGES},
defs AS (SELECT node_id AS d, node_id % 3 AS var FROM n WHERE node_id % 4 = 1),
uses AS (SELECT node_id AS node, node_id % 3 AS var FROM n WHERE node_id % 5 = 2),
r(node, var, def_node) AS (
  SELECT be.dst, defs.var, defs.d FROM defs JOIN be ON be.src = defs.d
  UNION
  SELECT be.dst, r.var, r.def_node
  FROM r JOIN be ON be.src = r.node
  LEFT JOIN defs k ON k.d = r.node AND k.var = r.var
  WHERE k.d IS NULL
)"""


def _components_cte(pairs: str, a: str, b: str) -> str:
    """CTE 'comp(node, component)': undirected connected components of the
    edges (``a``, ``b``) of ``pairs`` by recursive-CTE closure, component =
    min reachable node id. Nodes without an edge are absent. Needs WITH
    RECURSIVE."""
    return f"""u AS (SELECT {a} AS a, {b} AS b FROM {pairs}
      UNION SELECT {b}, {a} FROM {pairs}),
nn AS (SELECT DISTINCT a AS node FROM u),
r(node, comp) AS (
  SELECT node, node FROM nn
  UNION
  SELECT u.b, r.comp FROM r JOIN u ON u.a = r.node
),
comp AS (SELECT node, min(comp) AS component FROM r GROUP BY 1)"""


# ---------------------------------------------------------------------------
# fragments: word n-grams and shingle overlap
# ---------------------------------------------------------------------------

_TOKS = "toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"


def _gram(n: int) -> str:
    """The word n-gram of token list ``w`` starting at 0-based index i."""
    return " || ' ' || ".join(f"w[i + {k}]" for k in range(1, n + 1))


def _shingles_cte(n: int = 3, toks: str = "toks", name: str = "sh") -> str:
    """CTE ``name``(doc_id, shingle): the distinct word n-grams of ``toks``."""
    return f"""{name} AS (
  SELECT DISTINCT doc_id, {_gram(n)} AS shingle
  FROM {toks}, unnest(range(len(w) - {n - 1})) AS t(i)
  WHERE len(w) >= {n}
)"""


_SHINGLES_CTE = f"""
{_TOKS},
{_shingles_cte()},
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1)"""

# every doc pair sharing a 3-gram: |A ∩ B| = inter, |A| = na, |B| = nb
_OVERLAP_CTE = f"""{_SHINGLES_CTE},
ov AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ovn AS (
  SELECT ov.*, ca.n AS na, cb.n AS nb FROM ov
  JOIN cnt ca ON doc_id_a = ca.doc_id
  JOIN cnt cb ON doc_id_b = cb.doc_id
)"""
_JACCARD = "round(inter * 1.0 / (na + nb - inter), 6)"
_JACCARD_PPM = "inter * 1000000 // (na + nb - inter)"


def _jaccard_groups_cte(threshold: float) -> str:
    """CTE 'grp(doc_id, group_id)': components over the exact-Jaccard pair
    graph, singletons keep their own id. Needs WITH RECURSIVE."""
    return f"""{_OVERLAP_CTE},
pairs AS (SELECT doc_id_a, doc_id_b FROM ovn WHERE {_JACCARD} >= {threshold}),
{_components_cte("pairs", "doc_id_a", "doc_id_b")},
grp AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)"""


# positional (multiplicity-keeping) 3-grams of ``toks``, start index spos
_POS_SHINGLES_CTE = f"""ps AS (
  SELECT doc_id, i AS spos, {_gram(3)} AS shingle
  FROM toks, unnest(range(len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
)"""

# one row per token of ``toks`` with its 0-based position
_TOKEN_POS_CTE = """tok AS (
  SELECT doc_id, i AS pos, w[i + 1] AS tok
  FROM toks, unnest(range(len(w))) AS t(i)
)"""


def _bigram_repetition(src: str) -> str:
    """Per doc of ``src(doc_id, ws)``: word-2-gram count, the top 2-gram's
    share and the duplicated share, in integer ppm."""
    return f"""SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_grams,
       CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS top_gram_ppm,
       CAST((sum(cnt) - count(*)) * 1000000 // sum(cnt) AS BIGINT) AS dup_gram_ppm
FROM (
  SELECT doc_id, gram, count(*) AS cnt
  FROM (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS gram
        FROM {src}, unnest(generate_series(1, len(ws) - 1)) AS t(i))
  GROUP BY 1, 2
) GROUP BY 1"""


def _pack_sql(src: str, budget: int, extra: str = "") -> str:
    """Global prefix-sum packing of ``src(doc_id, n_tokens, ...)`` into
    ``budget``-token bins, in doc_id order, plus the ``extra`` columns."""
    return f"""SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cb // {budget} AS BIGINT) AS bin_id,
       CAST(cb % {budget} AS BIGINT) AS offset_in_bin{extra}
FROM (
  SELECT *, coalesce(sum(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM {src}
)"""


# md5 of a text after the PII scrub (emails, then long digit runs)
_SCRUB_HASH = (f"md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),\n"
               f"                          '{LONG_DIGITS_RE}', '<NUM>', 'g'))")


# ---------------------------------------------------------------------------
# fragments: quantized embeddings
# ---------------------------------------------------------------------------

_QUANT_CTE = """
q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
qn AS (
  SELECT vec_id, qv,
         list_dot_product(qv::DOUBLE[], qv::DOUBLE[]) AS norm
  FROM q
)"""

# exact squared distance of two int lists (DOUBLE dots of ints < 2^53)
_D2 = ("list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]) "
       "- 2 * list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) "
       "+ list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])")


def _cos(a: str = "a", b: str = "bb") -> str:
    """The round-6 quantized cosine of ``qn`` rows ``a`` and ``b``."""
    return (f"round(list_dot_product({a}.qv::DOUBLE[], {b}.qv::DOUBLE[])"
            f" / sqrt({a}.norm * {b}.norm), 6)")


def _cos_topk(k: int, src: str, col: str = "cos_q") -> str:
    """Per query row ``a`` of the FROM clause ``src``, its top-k rows
    ``bb`` by quantized cosine (neighbour id tie-break)."""
    return f"""
SELECT query_id, neighbor_id, rank, {col} FROM (
  SELECT a.vec_id AS query_id, bb.vec_id AS neighbor_id, {_cos()} AS {col},
         row_number() OVER (
           PARTITION BY a.vec_id ORDER BY {_cos()} DESC, bb.vec_id ASC
         ) AS rank
  {src}
) WHERE rank <= {k}
"""


def _near_dups(src: str, threshold: float, extra: str = "") -> str:
    """Pairs (vec_id_a, vec_id_b, cos_q) of the rows ``a``, ``bb`` of the
    FROM clause ``src`` at quantized cosine >= ``threshold``."""
    return f"""
SELECT * FROM (
  SELECT a.vec_id AS vec_id_a, bb.vec_id AS vec_id_b{extra}, {_cos()} AS cos_q
  {src}
) WHERE cos_q >= {threshold}
"""


def _lsh_buckets_cte(dim: int, n_planes: int) -> str:
    """CTEs 'planes' and 'b(vec_id, bucket)': the integer-hyperplane LSH
    signature of every ``qn`` row (exact arithmetic)."""
    return f"""planes AS (
  SELECT p, list_transform(range({dim}),
                           d -> ((p * {dim} + d) * 48271) % 1021 - 510) AS pl
  FROM range({n_planes}) t(p)
),
b AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN list_dot_product(qn.qv::DOUBLE[], pl::DOUBLE[]) >= 0
                       THEN (1 << p) ELSE 0 END) AS BIGINT) AS bucket
  FROM qn, planes GROUP BY vec_id
)"""


def _lsh_pairs(pair: str, max_hamming: int) -> str:
    """FROM clause: ``qn`` rows ``a``, ``bb`` related by ``pair`` whose LSH
    buckets differ in at most ``max_hamming`` bits (the multi-probe rule)."""
    return f"""FROM qn a JOIN b ba ON a.vec_id = ba.vec_id
  JOIN qn bb ON {pair}
  JOIN b bbb ON bb.vec_id = bbb.vec_id
  WHERE bit_count(xor(ba.bucket, bbb.bucket)) <= {max_hamming}"""


def _ivf_route_ctes(every: int, centroid_every: int, nprobe: int) -> str:
    """IVF routing over ``qn``: sampled centroids 'cents', round-6 cosines
    'scored', each vector's cell 'assign(vec_id, cent_id)' and each query's
    ``nprobe`` cells 'qprobe(query_id, cent_id)' — cosine desc, smallest
    cent_id on ties."""
    rank = "row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cent_id ASC) AS rn"
    return f"""cents AS (
  SELECT vec_id AS cent_id, qv AS cv, norm AS cnorm FROM qn
  WHERE vec_id % {centroid_every} = 0
),
scored AS (
  SELECT qn.vec_id, cent_id,
         round(list_dot_product(qv::DOUBLE[], cv::DOUBLE[])
               / sqrt(norm * cnorm), 6) AS cosc
  FROM qn, cents
),
assign AS (
  SELECT vec_id, cent_id FROM (SELECT vec_id, cent_id, {rank} FROM scored)
  WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, cent_id FROM (
    SELECT vec_id, cent_id, {rank} FROM scored WHERE vec_id % {every} = 0
  ) WHERE rn <= {nprobe}
)"""


def _pq_sub(v: str) -> str:
    """Subvector m of the int list ``v``."""
    return f"list_slice({v}, m * {PQ_DSUB} + 1, (m + 1) * {PQ_DSUB})"


def _pq_encode_ctes(src: str, v: str) -> str:
    """PQ over ``src(vec_id, v)``: the codebook 'cb(m, k, cv)' from the
    subvectors of the first PQ_K rows with vec_id % PQ_SAMPLE_MOD == 1,
    the subvectors 'subs(vec_id, m, sub)' and the argmin codes
    'enc(vec_id, m, code)', smallest code on ties."""
    return f"""cbv AS (
  SELECT {v}, vec_id FROM {src} WHERE vec_id % {PQ_SAMPLE_MOD} = 1
  ORDER BY vec_id LIMIT {PQ_K}
),
cbk AS (SELECT {v}, row_number() OVER (ORDER BY vec_id) - 1 AS k FROM cbv),
cb AS (SELECT m, k, {_pq_sub(v)} AS cv FROM cbk, range({PQ_M}) t(m)),
subs AS (SELECT vec_id, m, {_pq_sub(v)} AS sub FROM {src}, range({PQ_M}) t(m)),
enc AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT s.vec_id, s.m, cb.k,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_D2.format(a='s.sub', b='cb.cv')} ASC, cb.k ASC) AS rn
    FROM subs s JOIN cb ON s.m = cb.m
  ) WHERE rn = 1
)"""


# the ADC distance of a query's subvectors 'qs' to a coded row's centroids
_ADC = f"CAST(sum({_D2.format(a='qs.sub', b='cb.cv')}) AS BIGINT) AS adist"


def _adc_topk(k: int) -> str:
    """Per query the top-k of 'pair(query_id, neighbor_id, adist)' by
    adist asc, neighbor id asc."""
    return f"""
SELECT query_id, neighbor_id, rank, adist FROM (
  SELECT query_id, neighbor_id, adist,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM pair
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# fragments: the crawl host link graph and unrolled fixpoints
# ---------------------------------------------------------------------------

# the crawl host of a page (pages are grouped three to a host)
_DOC_HOST = "printf('host%04d.example', (doc_id // 3) % 100)"


def _host_of(url: str) -> str:
    return f"regexp_extract({url}, '^https?://([^/]+)', 1)"


def _host_nodes() -> str:
    """The 100 crawl hosts as a subquery (i, host)."""
    return "(SELECT i, printf('host%04d.example', i) AS host FROM range(100) t(i))"


def _host_edges_cte(name: str, where: str = "") -> str:
    """CTE ``name(src, dst)``: the two-arm host link graph of the crawl
    fixture (each page links its host to two hosts), over the pages that
    match ``where``."""
    cond = f" WHERE {where}" if where else ""
    return f"""{name} AS (
  SELECT {_DOC_HOST} AS src,
         printf('host%04d.example', (doc_id * 7 + 1) % 100) AS dst
  FROM documents{cond}
  UNION ALL
  SELECT {_DOC_HOST}, printf('host%04d.example', (doc_id * 13 + 2) % 100)
  FROM documents{cond}
)"""


def _rounds(head: str, n: int, layer, final: str) -> str:
    """A fixpoint unrolled as one CTE chain: ``head``, the CTE layers
    ``layer(k)`` for k = 1..n, then the ``final`` query."""
    return head + "," + ",".join(layer(k) for k in range(1, n + 1)) + "\n" + final


def _teleport_rank_sql(iterations: int, seed: str) -> str:
    """The integer teleport-rank power iterations over the host link graph,
    unrolled (linkgraph.pagerank_integer / trustrank_integer): rank_0 = 1e6
    on seeds and 0 elsewhere, then per layer seed * 150000 + 85 * (sum of
    rank // out_deg per dst) // 100 — the same integer truncation, so every
    iteration is bit-exact across engines. ``seed`` is the 0/1 seed flag as
    SQL over the host number i."""
    head = f"""
WITH {_host_edges_cte("edges")},
nodes AS (SELECT host, {seed} AS is_seed FROM {_host_nodes()}),
deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY 1),
ed AS (SELECT e.src, e.dst, d.out_deg FROM edges e JOIN deg d USING (src)),
r0 AS (SELECT host AS node, CAST(is_seed * 1000000 AS BIGINT) AS rank_micro
       FROM nodes)"""
    return _rounds(head, iterations, lambda k: f"""
c{k} AS (
  SELECT ed.dst AS node, sum(r.rank_micro // ed.out_deg) AS inbound
  FROM ed JOIN r{k - 1} r ON ed.src = r.node GROUP BY 1
),
r{k} AS (
  SELECT n.host AS node,
         CAST(n.is_seed * 150000 + 85 * coalesce(c.inbound, 0) // 100
              AS BIGINT) AS rank_micro
  FROM nodes n LEFT JOIN c{k} c ON n.host = c.node
)""", f"SELECT node AS host, rank_micro FROM r{iterations}\n")


def _min_relax_sql(head: str, rounds: int, col: str, step: str) -> str:
    """``head`` ending in the seed layer d0(host, ``col``), then ``rounds``
    synchronous min-relax layers over ``ed(src, dst, ...)`` adding
    ``step`` per hop (the unrolled BFS / Bellman-Ford of linkgraph)."""
    return _rounds(head, rounds, lambda r: f"""
d{r} AS (
  SELECT host, min({col}) AS {col} FROM (
    SELECT host, {col} FROM d{r - 1}
    UNION ALL
    SELECT ed.dst AS host, p.{col} + {step} AS {col}
    FROM d{r - 1} p JOIN ed ON p.host = ed.src
  ) GROUP BY 1
)""", f"SELECT host, CAST({col} AS BIGINT) AS {col} FROM d{rounds}")


def _bpe_enc(tok: str) -> str:
    """A token as its bracketed symbol sequence (chr(1) sym chr(2) each)."""
    clean = f"replace(replace({tok}, chr(1), ''), chr(2), '')"
    return (f"chr(1) || array_to_string(string_split({clean}, ''),\n"
            f"           chr(2) || chr(1)) || chr(2)")


def _bpe_merge(seq: str) -> str:
    """``seq`` with every bracketed pair (b.sym_a, b.sym_b) merged."""
    return (f"replace({seq},\n"
            f"          chr(1) || b.sym_a || chr(2) || chr(1) || b.sym_b || chr(2),\n"
            f"          chr(1) || b.sym_a || b.sym_b || chr(2))")


# the corpus word-frequency table as symbol sequences v0(seq, n)
_BPE_WORDS = f"""
WITH wc AS (
  SELECT tok, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY 1
),
v0 AS (SELECT {_bpe_enc("tok")} AS seq, n FROM wc)"""


def _bpe_round(k: int) -> str:
    """BPE training round k: the weighted adjacent-pair counts p{k} of
    v{k-1}, the (count desc, pair asc) argmax b{k}, and its merge v{k} —
    the greedy disjoint merge semantics of operators/bpe.py."""
    return f"""
p{k} AS (
  SELECT s[i] AS sym_a, s[i + 1] AS sym_b, CAST(sum(n) AS BIGINT) AS pair_count
  FROM (SELECT string_split(substring(seq, 2, length(seq) - 2),
                            chr(2) || chr(1)) AS s, n
        FROM v{k - 1}),
       unnest(generate_series(1, len(s) - 1)) AS t(i)
  WHERE len(s) >= 2
  GROUP BY 1, 2
),
b{k} AS (
  SELECT sym_a, sym_b, pair_count FROM p{k}
  ORDER BY pair_count DESC, sym_a, sym_b LIMIT 1
),
v{k} AS (
  SELECT {_bpe_merge("v.seq")} AS seq, v.n
  FROM v{k - 1} v CROSS JOIN b{k} b
)"""


# ---------------------------------------------------------------------------
# fragments: event points
# ---------------------------------------------------------------------------


def _event_points_cte() -> str:
    """CTE 'ev': the events table plus each ping's grid point ``ex``/``ey``
    and time keys ``sec``/``day`` (the rule of sources.pages.event_points_df,
    written independently)."""
    return f"""ev AS (
  SELECT *, {layers.EVT_GX_SQL} AS ex, {layers.EVT_GY_SQL} AS ey,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
)"""


# every user's pings in track order
_TRACK = "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"


def _stays_cte() -> str:
    """CTEs 'flagged', 'isl' and 'stays' over 'ev': a new island starts at
    a Chebyshev step above STAY_RADIUS, and an island of at least
    STAY_MIN_PINGS pings is a stay (user_id, island, first_event_id,
    n_pings, arrive_sec, depart_sec, centroid cx/cy)."""
    return f"""flagged AS (
  SELECT *,
         CASE WHEN greatest(abs(ex - lag(ex) OVER w), abs(ey - lag(ey) OVER w))
                   <= {STAY_RADIUS}
              THEN 0 ELSE 1 END AS brk
  FROM ev {_TRACK}
),
isl AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
),
stays AS (
  SELECT user_id, island, min(event_id) AS first_event_id,
         CAST(count(*) AS BIGINT) AS n_pings,
         min(sec) AS arrive_sec, max(sec) AS depart_sec,
         CAST(sum(ex) // count(*) AS BIGINT) AS cx,
         CAST(sum(ey) // count(*) AS BIGINT) AS cy
  FROM isl GROUP BY 1, 2
  HAVING count(*) >= {STAY_MIN_PINGS}
)"""


def _fences_cte() -> str:
    return f"""fences AS (
  SELECT i AS fence_id, (i * 37 + 11) % 1024 AS fx, (i * 73 + 29) % 1024 AS fy
  FROM range(0, {layers.N_GAZ}, {FENCE_MOD}) t(i)
)"""


# ping e lies in fence f's box
_IN_FENCE = f"abs(e.ex - f.fx) <= {FENCE_R} AND abs(e.ey - f.fy) <= {FENCE_R}"


def _fence_state_cte(keys: str) -> str:
    """CTE 'pinged': per ping (``keys`` of ev e) its ``state`` = smallest
    fence_id whose box holds it, -1 outside every fence."""
    return f"""pinged AS (
  SELECT {keys}, coalesce(min(f.fence_id), -1) AS state
  FROM ev e LEFT JOIN fences f ON {_IN_FENCE}
  GROUP BY ALL
)"""


def _route_points_cte() -> str:
    """CTEs 'seg', 's2' and 'pts' over 'ev': every consecutive-ping hop
    and its exact-integer DDA raster, L = Chebyshev steps and
    xt = x0 + (dx * t) // L (DuckDB ``//`` truncates toward zero, same as
    the engine's ``div``)."""
    return f"""seg AS (
  SELECT user_id,
         lag(ex) OVER w AS x0, lag(ey) OVER w AS y0,
         ex AS x1, ey AS y1
  FROM ev {_TRACK}
),
s2 AS (
  SELECT *, greatest(abs(x1 - x0), abs(y1 - y0), 1) AS L
  FROM seg WHERE x0 IS NOT NULL
),
pts AS (
  SELECT user_id,
         x0 + ((x1 - x0) * t) // L AS xt,
         y0 + ((y1 - y0) * t) // L AS yt
  FROM s2, unnest(generate_series(0, L)) AS g(t)
)"""


def _sq_dist(x0: str, y0: str, x1: str, y1: str) -> str:
    """Squared euclidean distance of two grid points (exact integers)."""
    return f"({x0} - {x1}) * ({x0} - {x1}) + ({y0} - {y1}) * ({y0} - {y1})"


_LINES_CTE = f"""lines AS (
  SELECT CAST(j AS BIGINT) AS line_id,
         {layers.LINE_X0_SQL.format(j="j")} AS bx0,
         {layers.LINE_Y0_SQL.format(j="j")} AS by0,
         {layers.LINE_X1_SQL.format(j="j")} AS bx1,
         {layers.LINE_Y1_SQL.format(j="j")} AS by1
  FROM unnest(generate_series(0, {layers.N_LINES - 1})) AS g(j)
)"""


# ---------------------------------------------------------------------------
# geo oracles
# ---------------------------------------------------------------------------


def cell_encode_sql(res_lo: int = 7, res_hi: int = 10) -> str:
    parts = [
        f"SELECT doc_id, {r} AS res, {_cell_sql(r)} AS cell_id FROM pts0"
        for r in range(res_lo, res_hi + 1)
    ]
    return f"WITH {_pts0_only()} " + " UNION ALL ".join(parts)


def s2_encode_sql(levels: tuple[int, ...] = (12, 13, 14, 15, 16)) -> str:
    """Hilbert (S2-style) encode at levels 12..16, via the unrolled CTE chain
    (``s2.hilbert_cte_chain_sql``, the iterative form of the algorithm
    ``s2.with_hilbert_col`` runs — see s2.py)."""
    src = f"""
src AS (
  SELECT doc_id,
         ({layers.DOC_GX_SQL}) * {1 << (s2.S2_RES - layers.GRID_RES)}
           + {1 << (s2.S2_RES - layers.GRID_RES - 1)} AS x16,
         ({layers.DOC_GY_SQL}) * {1 << (s2.S2_RES - layers.GRID_RES)}
           + {1 << (s2.S2_RES - layers.GRID_RES - 1)} AS y16
  FROM documents
)"""
    chain = s2.hilbert_cte_chain_sql("src", "doc_id", "x16", "y16", s2.S2_RES)
    sel = " UNION ALL ".join(
        f"SELECT doc_id, {lvl} AS level, d >> {2 * (s2.S2_RES - lvl)} AS cell_id FROM hfin"
        for lvl in levels
    )
    return f"WITH {src},\n{chain}\n{sel}"


def pip_docs_sql() -> str:
    """(doc_id, cell_id, polygon_id): every polygon containing each doc point."""
    return f"""
WITH {_pts_cte()}, {_edges_cte()}
{_pip("pts", "doc_id, cell_id")}
"""


def pip_best_sql() -> str:
    """Deepest-admin-level winner per (doc_id, cell_id) — longest_scope_match."""
    return f"""
WITH {_pts_cte()}, {_edges_cte()}, {_admin_cte()},
hits AS ({_pip("pts", "doc_id, cell_id")})
SELECT h.doc_id, h.cell_id, h.polygon_id, a.admin_level
FROM hits h JOIN admin a USING (polygon_id)
QUALIFY row_number() OVER (
  PARTITION BY h.doc_id, h.cell_id
  ORDER BY a.admin_level DESC, h.polygon_id ASC
) = 1
"""


def entities_sql() -> str:
    gx = layers.GAZ_GX_SQL.format(i="gi")
    gy = layers.GAZ_GY_SQL.format(i="gi")
    return f"""
WITH {_mentions_cte()}
SELECT url, entity_id, surface, (tlen + 1 + j * 10)::int AS char_offset,
       {layers.LON_SQL.format(gx=gx)} AS lon, {layers.LAT_SQL.format(gy=gy)} AS lat
FROM ment
"""


def pip_entities_sql(res: int = layers.GRID_RES) -> str:
    """The flagship triple set: distinct (url, cell_id, polygon_id) over
    extracted page entities."""
    return f"""
WITH {_mentions_cte()},
pts AS (
  SELECT url,
         {layers.LON_SQL.format(gx="gx")} AS lon,
         {layers.LAT_SQL.format(gy="gy")} AS lat,
         {_cell_sql(res)} AS cell_id
  FROM (SELECT url, {layers.GAZ_GX_SQL.format(i="gi")} AS gx,
               {layers.GAZ_GY_SQL.format(i="gi")} AS gy FROM ment)
),
{_edges_cte()}
SELECT DISTINCT * FROM ({_pip("pts", "url, cell_id")})
"""


def tiles_sql(res_lo: int = 7, res_hi: int = 10) -> str:
    parts = [
        f"SELECT {r} AS res, {_cell_sql(r)} AS cell_id, "
        f"count(*) AS n_docs FROM pts0 GROUP BY 1, 2"
        for r in range(res_lo, res_hi + 1)
    ]
    return f"WITH {_pts0_only()} " + " UNION ALL ".join(parts)


def vector_raster_sql(res: int = 7) -> str:
    """Rasterized polygon layer: every res-cell whose center is inside."""
    return f"""
WITH {_pix_cte(res)}, {_edges_cte()}
SELECT {res} AS res, cell_id, polygon_id FROM ({_pip("pix", "cell_id")})
"""


def raster_compact_sql(res: int = layers.GRID_RES, min_res: int = 0) -> str:
    """Compacted cell hierarchy of per-tile doc counts: fold complete
    4-sibling sets into parents, level by level (unrolled CTE chain — the
    SQL mirror of ``tiles.compact_tiles``)."""
    parts = [
        _pts0_only().strip(),
        f"t{res} AS (SELECT {cells.morton_sql('gx', 'gy', res)} AS cell_id, "
        f"count(*) AS n_docs FROM pts0 GROUP BY 1)",
    ]
    selects = []
    for r in range(res, min_res, -1):
        parts.append(
            f"p{r} AS (SELECT cell_id >> 2 AS p, count(*) AS c, "
            f"CAST(sum(n_docs) AS BIGINT) AS sn FROM t{r} GROUP BY 1)"
        )
        parts.append(
            f"k{r} AS (SELECT {r} AS res, cell_id, n_docs FROM t{r} "
            f"WHERE (cell_id >> 2) NOT IN (SELECT p FROM p{r} WHERE c = 4))"
        )
        parts.append(
            f"t{r - 1} AS (SELECT p AS cell_id, sn AS n_docs FROM p{r} WHERE c = 4)"
        )
        selects.append(f"SELECT res, cell_id, n_docs FROM k{r}")
    selects.append(f"SELECT {min_res} AS res, cell_id, n_docs FROM t{min_res}")
    return "WITH " + ",\n".join(parts) + "\n" + " UNION ALL ".join(selects)


def tiles_distinct_sql() -> str:
    return f"""
WITH {_pts0_only()}
SELECT {cells.morton_sql('(gx >> 3)', '(gy >> 3)', 7)} AS cell_id,
       count(DISTINCT doc_id % 100) AS n_hosts,
       count(*) AS n_docs
FROM pts0 GROUP BY 1
"""


def graph_collapse_sql() -> str:
    return f"""
WITH {_graph_ctes()},
m AS (SELECT graph_id, label, min(node_id) AS rep FROM n GROUP BY 1, 2),
nm AS (SELECT n.graph_id, n.node_id, m.rep FROM n JOIN m USING (graph_id, label))
SELECT DISTINCT e.graph_id, sa.rep AS src, sb.rep AS dst, e.edge_type
FROM e
JOIN nm sa ON e.graph_id = sa.graph_id AND e.src = sa.node_id
JOIN nm sb ON e.graph_id = sb.graph_id AND e.dst = sb.node_id
"""


def graph_minimize_sql() -> str:
    return f"""
WITH {_graph_ctes()},
dead AS (SELECT graph_id, node_id FROM n WHERE node_type = 'poi'),
kept AS (
  SELECT e.* FROM e
  WHERE NOT EXISTS (SELECT 1 FROM dead d WHERE d.graph_id = e.graph_id AND d.node_id = e.src)
    AND NOT EXISTS (SELECT 1 FROM dead d WHERE d.graph_id = e.graph_id AND d.node_id = e.dst)
),
bypass AS (
  SELECT a.graph_id, a.src, b.dst, a.edge_type
  FROM e a
  JOIN dead d ON a.graph_id = d.graph_id AND a.dst = d.node_id
  JOIN e b ON b.graph_id = a.graph_id AND b.src = a.dst
)
SELECT DISTINCT graph_id, src, dst, edge_type FROM (
  SELECT * FROM kept UNION ALL SELECT * FROM bypass
)
"""


def graph_components_sql() -> str:
    """Undirected connected components over the broken chain edges —
    recursive-CTE closure, component = min reachable node id."""
    return f"""
WITH RECURSIVE {_graph_ctes()},
{_BROKEN_EDGES},
{_components_cte("be", "src", "dst")}
SELECT node AS node_id, component FROM comp
"""


def graph_reach_sql() -> str:
    """Directed min-hop BFS from the chain heads (doc_id < 100)."""
    return f"""
WITH RECURSIVE {_graph_ctes()},
{_BROKEN_EDGES},
seeds AS (SELECT node_id AS node FROM n WHERE node_id < 100),
r(node, hops) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT be.dst, r.hops + 1 FROM r JOIN be ON be.src = r.node
  WHERE r.hops < 60
)
SELECT node AS node_id, CAST(min(hops) AS BIGINT) AS hops FROM r GROUP BY 1
"""


def graph_rda_sql() -> str:
    """Reaching definitions via recursive CTE: propagate (var, def_node)
    facts along the broken chain, blocked at nodes that redefine the var
    (left-join kill check in the recursive term)."""
    return f"""
WITH RECURSIVE {_rda_ctes()}
SELECT node AS node_id, var, def_node FROM r
"""


def graph_closure_sql() -> str:
    """Directed transitive closure of the broken chain edges."""
    return f"""
WITH RECURSIVE {_graph_ctes()},
{_BROKEN_EDGES},
r(a, b) AS (
  SELECT src, dst FROM be
  UNION
  SELECT r.a, be.dst FROM r JOIN be ON be.src = r.b
)
SELECT a AS ancestor, b AS descendant FROM r
"""


def entities_typed_sql() -> str:
    """Typed entity rows: kind = gaz_idx % 3 cycle, data_type from kind."""
    return f"""
WITH {_mentions_cte()}
SELECT url, entity_id, surface,
  CASE gi % 3 WHEN 0 THEN 'city' WHEN 1 THEN 'poi' ELSE 'region' END AS entity_kind,
  CASE gi % 3 WHEN 2 THEN 'polygon' ELSE 'point' END AS data_type
FROM ment
"""


def dedup_groups_sql(threshold: float = 0.5) -> str:
    """Components over the exact-Jaccard pair graph; singletons keep their
    own id."""
    return f"WITH RECURSIVE {_jaccard_groups_cte(threshold)}\nSELECT * FROM grp"


def alias_resolve_sql(n_gaz: int = layers.N_GAZ) -> str:
    """Terminal resolution of the ALT_i alias chains (typedef expansion)."""
    return f"""
WITH RECURSIVE m AS (
  SELECT printf('ALT_%05d', i) AS alias,
         CASE WHEN i % 3 = 0 THEN printf('GEO_%05d', i)
              ELSE printf('ALT_%05d', i - 1) END AS target
  FROM range({n_gaz}) t(i)
),
r(alias, target, depth) AS (
  SELECT alias, target, 1 FROM m
  UNION ALL
  SELECT r.alias, m.target, r.depth + 1 FROM r JOIN m ON r.target = m.alias
)
SELECT alias, target, CAST(depth AS BIGINT) AS depth FROM r
WHERE target NOT IN (SELECT alias FROM m)
"""


def cascade_resolve_sql(n_gaz: int = layers.N_GAZ) -> str:
    """Exact-surface -> prefix-bucket -> unresolved fallback cascade."""
    return f"""
WITH {_mentions_cte()},
m2 AS (SELECT url, entity_id, surface FROM ment),
ex AS (SELECT printf('GEO_%05d', i) AS surface, i AS exact_id
       FROM range({n_gaz}) t(i) WHERE i % 2 = 0),
pfx AS (SELECT substr(printf('GEO_%05d', i), 1, 8) AS prefix, min(i) AS prefix_id
        FROM range({n_gaz}) t(i) WHERE i % 3 = 0 GROUP BY 1)
SELECT url, entity_id, surface,
       CAST(coalesce(e.exact_id, p.prefix_id, -1) AS BIGINT) AS resolved_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
            WHEN p.prefix_id IS NOT NULL THEN 'prefix'
            ELSE 'none' END AS via
FROM m2
LEFT JOIN ex e USING (surface)
LEFT JOIN pfx p ON substr(m2.surface, 1, 8) = p.prefix
"""


def graph_grouped_metrics_sql(max_dist: int = 16) -> str:
    """Per-graph node/edge/component counts + exact diameter via a bounded
    all-pairs min-dist recursion (exact as long as max_dist exceeds the true
    diameter — segments are <= 7 edges by the break spacing)."""
    return f"""
WITH RECURSIVE {_graph_ctes()},
{_BROKEN_EDGES},
u AS (SELECT graph_id, src AS a, dst AS b FROM be
      UNION SELECT graph_id, dst, src FROM be),
nn AS (SELECT DISTINCT graph_id, a AS node FROM u),
r(graph_id, node, comp) AS (
  SELECT graph_id, node, node FROM nn
  UNION
  SELECT u.graph_id, u.b, r.comp FROM r JOIN u ON u.graph_id = r.graph_id AND u.a = r.node
),
comp AS (SELECT graph_id, node, min(comp) AS component FROM r GROUP BY 1, 2),
d(graph_id, src, node, dist) AS (
  SELECT graph_id, node, node, 0 FROM nn
  UNION
  SELECT u.graph_id, d.src, u.b, d.dist + 1
  FROM d JOIN u ON u.graph_id = d.graph_id AND u.a = d.node
  WHERE d.dist < {max_dist}
),
dmin AS (SELECT graph_id, src, node, min(dist) AS dist FROM d GROUP BY 1, 2, 3)
SELECT g.graph_id, g.n_nodes, ne.n_edges, c.n_components, dd.diameter
FROM (SELECT graph_id, count(DISTINCT node) AS n_nodes FROM nn GROUP BY 1) g
JOIN (SELECT graph_id, count(*) AS n_edges
      FROM (SELECT DISTINCT graph_id, src, dst FROM be) GROUP BY 1) ne USING (graph_id)
JOIN (SELECT graph_id, count(DISTINCT component) AS n_components FROM comp GROUP BY 1) c USING (graph_id)
JOIN (SELECT graph_id, max(dist) AS diameter FROM dmin GROUP BY 1) dd USING (graph_id)
"""


def graph_combine_sql() -> str:
    """'next' chain view ∪ 'skip' (+200 within host) view, multigraph dedupe."""
    return f"""
WITH {_graph_ctes()},
skip AS (
  SELECT a.graph_id, a.node_id AS src, b.node_id AS dst, 'skip' AS edge_type
  FROM n a JOIN n b ON a.graph_id = b.graph_id AND b.node_id = a.node_id + 200
)
SELECT DISTINCT graph_id, src, dst, edge_type FROM (
  SELECT graph_id, src, dst, edge_type FROM e
  UNION ALL SELECT graph_id, src, dst, edge_type FROM skip
)
"""


def events_stream_windows_sql() -> str:
    """Batch mirror of the drained streaming windowed aggregation: tumbling
    1h event-time buckets (epoch-aligned, same origin as Spark's window)."""
    return """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_micro
FROM events GROUP BY 1, 2
"""


def events_stream_sessions_sql() -> str:
    """Batch mirror of the drained stateful streaming sessionizer: per-user
    session/event totals under the same >30-min-gap rule."""
    return """
WITH s AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM s GROUP BY user_id
"""


def events_sessions_sql() -> str:
    return f"""
WITH s AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events {_TRACK}
),
s2 AS (
  SELECT event_id, user_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM s
)
SELECT event_id, user_id, session_id,
       count(*) OVER (PARTITION BY user_id, session_id) AS n_in_session
FROM s2
"""


def knn_sql(k: int = 5) -> str:
    return f"""
WITH {_pts_cte()}
SELECT doc_id, neighbor_id, rank, dist_sq FROM (
  SELECT a.doc_id, b.doc_id AS neighbor_id,
         (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) AS dist_sq,
         row_number() OVER (
           PARTITION BY a.doc_id
           ORDER BY (a.lon - b.lon) * (a.lon - b.lon) + (a.lat - b.lat) * (a.lat - b.lat) ASC,
                    b.doc_id ASC
         ) AS rank
  FROM pts a JOIN pts b ON a.doc_id <> b.doc_id
) WHERE rank <= {k}
"""


def extract_text_sql() -> str:
    """Byte-identity oracle: reconstruct text||mentions directly."""
    pieces = []
    for j in range(3):
        gi = layers.MENTION_IDX_SQL.format(j=str(j))
        pieces.append(
            f"CASE WHEN {j} < 1 + doc_id % 3 THEN ' GEO_' || printf('%05d', {gi}) ELSE '' END"
        )
    concat = " || ".join(pieces)
    return f"SELECT {_DOC_URL} AS url, text || {concat} AS text_out FROM documents"


# ---------------------------------------------------------------------------
# web-text / training-data pipeline oracles
# ---------------------------------------------------------------------------

def dedup_exact_sql() -> str:
    return """
SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def dedup_jaccard_sql(threshold: float = 0.5) -> str:
    return f"""
WITH {_OVERLAP_CTE}
SELECT doc_id_a, doc_id_b, {_JACCARD} AS jaccard
FROM ovn WHERE {_JACCARD} >= {threshold}
"""


def dedup_embedding_sql(threshold: float = 0.95) -> str:
    pairs = "FROM qn a JOIN qn bb ON a.vec_id < bb.vec_id"
    return f"WITH {_QUANT_CTE}{_near_dups(pairs, threshold)}"


def dedup_embedding_lsh_sql(
    threshold: float = 0.4, dim: int = 64, n_planes: int = 12,
    max_hamming: int = 2,
) -> str:
    """Naive quadratic mirror of the multi-probe hyperplane LSH near-dup:
    identical integer planes/buckets (exact arithmetic), candidate predicate
    bit_count(xor(buckets)) <= max_hamming, identical cosine verify."""
    pairs = _lsh_pairs("a.vec_id < bb.vec_id", max_hamming)
    return (f"WITH {_QUANT_CTE}, {_lsh_buckets_cte(dim, n_planes)}"
            f"{_near_dups(pairs, threshold)}")


def ann_lsh_sql(
    k: int = 10, every: int = 50, dim: int = 64, n_planes: int = 12,
    max_hamming: int = 1,
) -> str:
    """Exact mirror of the hyperplane-LSH bucketed ANN: identical integer
    planes/buckets (exact arithmetic), candidate predicate
    bit_count(xor(buckets)) <= max_hamming (the multi-probe rule), exact
    quantized-cosine ranking inside candidates only. The oracle mirrors the
    LSH candidate rule — not exact kNN — so the gate checks the bucketed
    plan itself, recall contract included."""
    cand = _lsh_pairs("bb.vec_id <> a.vec_id", max_hamming)
    return (f"WITH {_QUANT_CTE}, {_lsh_buckets_cte(dim, n_planes)}"
            f"{_cos_topk(k, f'{cand} AND a.vec_id % {every} = 0')}")


def ann_topk_quantized_sql(k: int = 10, every: int = 50) -> str:
    return f"""
WITH {_QUANT_CTE}
SELECT query_id, neighbor_id, rank, dot_q FROM (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         CAST(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) AS BIGINT) AS dot_q,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) DESC, b.vec_id ASC
         ) AS rank
  FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
  WHERE a.vec_id % {every} = 0
) WHERE rank <= {k}
"""


def _cosine_topk_select(k: int, every: int) -> str:
    """Exact round-6-cosine top-k over ``qn`` (id tie-break) — the one
    ground-truth text behind ann_cosine_topk_sql and ann_recall_eval_sql."""
    return _cos_topk(k, "FROM qn a JOIN qn bb ON bb.vec_id <> a.vec_id "
                        f"WHERE a.vec_id % {every} = 0", "cos")


def ann_cosine_topk_sql(k: int = 10, every: int = 50) -> str:
    return f"WITH {_QUANT_CTE}{_cosine_topk_select(k, every)}"


def ann_ivf_sql(
    k: int = 10, every: int = 50, centroid_every: int = 40, nprobe: int = 4,
) -> str:
    """Exact mirror of the IVF ANN plan: sampled centroids, round-6 cosine
    assignment with smallest-cent_id tie-break, nprobe probing, top-k over
    the probed cells only."""
    return f"""
WITH {_QUANT_CTE},
{_ivf_route_ctes(every, centroid_every, nprobe)},
cand AS (
  SELECT qprobe.query_id, assign.vec_id AS neighbor_id
  FROM qprobe JOIN assign USING (cent_id)
  WHERE assign.vec_id <> qprobe.query_id
){_cos_topk(k, "FROM cand c JOIN qn a ON a.vec_id = c.query_id "
               "JOIN qn bb ON bb.vec_id = c.neighbor_id")}"""


def ann_pq_sql(k: int = 10, every: int = 50) -> str:
    """Exact mirror of the PQ/ADC plan: same deterministically-sampled
    codebook (subvectors of the first K corpus rows with vec_id % MOD == 1),
    argmin encode with smallest-code tie-break, per-subspace LUT distances
    summed. All distances are exact integers (DOUBLE list_dot_product of int
    lists is exact below 2^53), so ranks match bit-for-bit."""
    return f"""
WITH {_QUANT_CTE},
{_pq_encode_ctes("q", "qv")},
qsubs AS (SELECT vec_id AS query_id, m, sub FROM subs WHERE vec_id % {every} = 0),
pair AS (
  SELECT qs.query_id, e.vec_id AS neighbor_id, {_ADC}
  FROM qsubs qs
  JOIN enc e ON e.m = qs.m
  JOIN cb ON cb.m = e.m AND cb.k = e.code
  WHERE e.vec_id <> qs.query_id
  GROUP BY 1, 2
){_adc_topk(k)}"""


def ann_ivfpq_sql(
    k: int = 10, every: int = 50, centroid_every: int = 40, nprobe: int = 4,
) -> str:
    """Exact mirror of the IVF+PQ composition: the IVF routing CTEs
    (``ann_ivf_sql``'s cents/scored/assign/qprobe, verbatim semantics)
    feeding the PQ ADC scoring CTEs (``ann_pq_sql``'s codebook/encode/LUT),
    with pairs restricted to the probed cells. All-integer, bit-for-bit."""
    return f"""
WITH {_QUANT_CTE},
{_ivf_route_ctes(every, centroid_every, nprobe)},
{_pq_encode_ctes("q", "qv")},
qsubs AS (SELECT vec_id AS query_id, m, sub FROM subs WHERE vec_id % {every} = 0),
cand AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id
  FROM qprobe qp JOIN assign a USING (cent_id)
  WHERE a.vec_id <> qp.query_id
),
pair AS (
  SELECT c.query_id, c.neighbor_id, {_ADC}
  FROM cand c
  JOIN qsubs qs ON qs.query_id = c.query_id
  JOIN enc e ON e.vec_id = c.neighbor_id AND e.m = qs.m
  JOIN cb ON cb.m = e.m AND cb.k = e.code
  GROUP BY 1, 2
){_adc_topk(k)}"""


def ann_ivfpq_residual_sql(
    k: int = 10, every: int = 50, centroid_every: int = 40, nprobe: int = 4,
) -> str:
    """Exact mirror of residual-encoded IVFPQ: same IVF routing CTEs, then
    PQ over ``qv - cv(assigned)`` residuals (exact int64 — list_zip
    elementwise subtraction), codebook sampled from the residuals, one ADC
    LUT per (query, probed cell) from the query's residual vs that cell's
    centroid. Bit-for-bit."""
    return f"""
WITH {_QUANT_CTE},
{_ivf_route_ctes(every, centroid_every, nprobe)},
res AS (
  SELECT q.vec_id, a.cent_id,
         list_transform(list_zip(q.qv, c.cv), x -> x[1] - x[2]) AS rv
  FROM q JOIN assign a USING (vec_id) JOIN cents c USING (cent_id)
),
{_pq_encode_ctes("res", "rv")},
qres AS (
  SELECT qp.query_id, qp.cent_id,
         list_transform(list_zip(q.qv, c.cv), x -> x[1] - x[2]) AS rq
  FROM qprobe qp JOIN q ON q.vec_id = qp.query_id JOIN cents c USING (cent_id)
),
qsubs AS (
  SELECT query_id, cent_id, m, {_pq_sub("rq")} AS sub
  FROM qres, range({PQ_M}) t(m)
),
pair AS (
  SELECT qs.query_id, e.vec_id AS neighbor_id, {_ADC}
  FROM qsubs qs
  JOIN assign a ON a.cent_id = qs.cent_id
  JOIN enc e ON e.vec_id = a.vec_id AND e.m = qs.m
  JOIN cb ON cb.m = e.m AND cb.k = e.code
  WHERE e.vec_id <> qs.query_id
  GROUP BY 1, 2
){_adc_topk(k)}"""


def text_langid_sql() -> str:
    """Mirror of the vectorized langid heuristic, generated from the SAME
    trigram profile table (operators/textstats._PROFILES) so the two can't
    drift. Counting: non-overlapping occurrences — Python ``str.count`` and
    the replace-length trick agree (both greedy left-to-right). Tie-break:
    (score DESC, lang DESC); empty text overrides CJK overrides scores."""
    def cnt(g: str) -> str:
        esc = g.replace("'", "''")
        return f"(length(text) - length(replace(text, '{esc}', ''))) / {len(g)}"

    arms = []
    for lang, grams in sorted(_PROFILES.items()):
        if not grams:
            continue
        score = " + ".join(cnt(g) for g in grams)
        arms.append(
            f"SELECT doc_id, lang, cjk, tlen, '{lang}' AS l, ({score}) AS s FROM sc"
        )
    union = "\n  UNION ALL ".join(arms)
    return f"""
WITH sc AS (
  SELECT doc_id, lang, text,
         regexp_matches(substr(text, 1, 200), '[一-鿿]') AS cjk,
         length(text) AS tlen
  FROM documents
),
u AS (
  {union}
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, l DESC) AS rn
  FROM u
)
SELECT doc_id, lang,
       CASE WHEN tlen IS NULL OR tlen = 0 THEN 'und'
            WHEN cjk THEN 'zh'
            WHEN s > 0 THEN l
            ELSE 'und' END AS pred_lang
FROM r WHERE rn = 1
"""


def text_tokens_sql() -> str:
    return """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
FROM documents
"""


def text_tokens_bpe_sql() -> str:
    """Identical RE2 pattern as operators/textstats.BPE_SPLIT_RE."""
    return r"""
WITH t AS (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_bpe_distinct,
       CAST(len(list_filter(toks, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS BIGINT) AS n_alpha_tokens
FROM t
"""


def text_quality_sql() -> str:
    return """
WITH w AS (SELECT doc_id, length(text) AS n_chars_out, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(n_chars_out AS BIGINT) AS n_chars_out,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks), 6) AS avg_token_len,
       round(len(list_filter(toks, t -> t IN ('the', 'a'))) * 1.0 / len(toks), 6) AS stopword_ratio,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_ratio
FROM w
"""


def text_fingerprint_sql() -> str:
    """Order-sensitive rolling hash, fully arithmetic on both engines:
    token hash = first 28 bits of md5 (hex-parsed), folded with
    fp = (fp * 1000003 + th) mod (2^31 - 1). Every intermediate fits int64
    exactly, so Spark and DuckDB agree bit-for-bit."""
    return """
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(string_split(text, ' '),
                          t -> ('0x' || substr(md5(t), 1, 7))::BIGINT)),
         (acc, th) -> (acc * 1000003 + th) % 2147483647) AS fingerprint
FROM documents
"""


def text_sample_sql() -> str:
    """Mirror of the deterministic stratified sample, generated from the
    SAME rate constants (operators/textstats) — thresholds computed with
    identical double->int truncation on both sides."""
    def u(salt: str) -> str:
        return (f"('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT")

    arms = " ".join(
        f"WHEN '{lang}' THEN {int(r * _U_MAX)}"
        for lang, r in sorted(SAMPLE_RATES.items())
    )
    rate = f"CASE lang {arms} ELSE {int(SAMPLE_DEFAULT_RATE * _U_MAX)} END"
    return f"""
SELECT doc_id, lang,
       CASE WHEN {u('split:')} < {int(HOLDOUT_FRAC * _U_MAX)}
            THEN 'heldout' ELSE 'train' END AS split
FROM documents
WHERE {u('keep:')} < {rate}
"""


def multimodal_features_sql(bins: int = 64) -> str:
    """Byte-histogram features. ASCII text => char positions == bytes."""
    return f"""
WITH u AS (
  SELECT doc_id, unnest(range(length(text))) AS i, text FROM documents
)
SELECT doc_id,
       (unicode(substr(text, (i + 1)::INT, 1)) % {bins})::INT AS bin,
       count(*) AS n
FROM u GROUP BY 1, 2
"""


def multimodal_resample_sql(out_len: int = 128) -> str:
    """Nearest-neighbor byte resample: src = floor(pos * len / out_len)."""
    return f"""
WITH u AS (
  SELECT doc_id, unnest(range({out_len})) AS pos, text FROM documents
  WHERE length(text) > 0
)
SELECT doc_id, pos::INT AS pos,
       unicode(substr(text, ((pos * length(text)) // {out_len} + 1)::INT, 1))::INT AS byte
FROM u
"""


def multimodal_frames_sql(n_frames: int = 4) -> str:
    """Frame-window rolling hashes. The documents' text is pure ASCII
    (verified at every sf), so char positions == byte offsets and
    unicode(char) == byte value — the SQL mirror of the numpy kernel."""
    return f"""
WITH f AS (
  SELECT doc_id, text, greatest(1, length(text) // {n_frames}) AS step
  FROM documents
),
fr AS (SELECT doc_id, step, text, unnest(range({n_frames})) AS fi FROM f),
w AS (
  SELECT doc_id, fi::INT AS frame_idx,
         substr(text, (fi * step + 1)::INT, 64) AS win
  FROM fr
)
SELECT doc_id, frame_idx,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(range(length(win)),
                          i -> unicode(substr(win, (i + 1)::INT, 1))::BIGINT)),
         (a, b) -> (a * 131 + b) % 2147483647) AS frame_hash
FROM w
"""


def lang_stats_sql() -> str:
    return """
SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY 1
"""


def multimodal_meta_sql() -> str:
    return """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(ascii(text) AS INTEGER) AS magic,
       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_width,
       CAST(ascii(text) % 480 AS INTEGER) AS fake_height
FROM documents
"""


# ---------------------------------------------------------------------------
# relational oracles
# ---------------------------------------------------------------------------

def q1_pricing_sql() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q3_top_orders_sql() -> str:
    return """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_region_revenue_sql() -> str:
    return """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def events_running_sql() -> str:
    return f"""
SELECT event_id, user_id,
       row_number() OVER w AS rn,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS running_value
FROM events {_TRACK}
"""


def events_asof_sql() -> str:
    return """
SELECT e.event_id, e.user_id, e.ts,
       (SELECT max(p.ts) FROM events p
        WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts)
         AS last_purchase_ts
FROM events e WHERE e.event_type = 'click'
"""


def q17_small_qty_revenue_sql() -> str:
    return """
SELECT p_brand,
       round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_items
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE l_quantity < (
  SELECT round(0.5 * avg(l2.l_quantity), 6) FROM lineitem l2
  WHERE l2.l_partkey = l.l_partkey)
GROUP BY 1
"""


def q18_large_orders_sql() -> str:
    return """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 150
)
SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_revenue_sql() -> str:
    return """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 40)
"""


def top_suppliers_per_nation_sql() -> str:
    return """
SELECT n_name, s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_acctbal = (
  SELECT max(s2.s_acctbal) FROM supplier s2
  WHERE s2.s_nationkey = supplier.s_nationkey)
"""


def q14_promo_revenue_sql() -> str:
    return """
SELECT date_trunc('month', l_shipdate) AS ship_month,
       round(sum(CASE WHEN p_type = 'ECONOMY'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             * 100.0 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def supplier_balance_tiers_sql() -> str:
    return """
SELECT n_name,
       CASE WHEN s_acctbal < 0 THEN 'debt'
            WHEN s_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_tier,
       count(*) AS n_suppliers,
       round(sum(s_acctbal), 2) AS total_bal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def events_percentiles_sql() -> str:
    return """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n_events
FROM events GROUP BY 1
"""


def orders_rollup_sql() -> str:
    return """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def orders_cube_sql() -> str:
    return """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def customers_no_orders_sql() -> str:
    """Anti-join: customers with no completed ('F') orders. The unrestricted
    variant is vacuous on this testdata (every customer has orders — verified
    at sf0.01), so the gate row filters the right side to keep the anti-join
    doing real work (71 rows at sf0.01)."""
    return """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


def events_pivot_sql() -> str:
    cols = ",\n       ".join(
        f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"""
SELECT user_id,
       {cols}
FROM events GROUP BY user_id
"""


def events_geomean_sql() -> str:
    return """
SELECT event_type,
       round(exp(avg(ln(1 + abs(value)))), 4) AS geomean_abs1p,
       count(*) AS n_events
FROM events GROUP BY event_type
"""


def events_json_stats_sql() -> str:
    return """
SELECT event_type,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
       count(*) FILTER (CAST(json_extract(props, '$.k') AS BIGINT) > 50) AS n_big_k
FROM events GROUP BY event_type
"""


def overlay_stats_sql(res: int = 7) -> str:
    """Raster-overlay pair statistics: self-join of the rasterized layer."""
    cell_area = (360.0 / (1 << res)) * (180.0 / (1 << res))
    return f"""
WITH {_pix_cte(res)}, {_edges_cte()},
r AS ({_pip("pix", "cell_id")})
SELECT a.polygon_id AS polygon_a, b.polygon_id AS polygon_b,
       count(*) AS n_shared_cells,
       round(count(*) * {cell_area!r}, 6) AS overlap_deg2
FROM r a JOIN r b ON a.cell_id = b.cell_id AND a.polygon_id < b.polygon_id
GROUP BY 1, 2
"""


def events_window_funcs_sql() -> str:
    return f"""
SELECT event_id, user_id,
       ntile(4) OVER w AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM events {_TRACK}
"""


def distance_join_sql(eps: float = 2.0) -> str:
    """Pure quadratic semantic of the spatial range self-join (the engine's
    cell blocking must reproduce exactly this set)."""
    return f"""
WITH {_pts_cte()}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       (a.lon - b.lon) * (a.lon - b.lon)
       + (a.lat - b.lat) * (a.lat - b.lat) AS dist_sq
FROM pts a JOIN pts b ON a.doc_id < b.doc_id
WHERE (a.lon - b.lon) * (a.lon - b.lon)
      + (a.lat - b.lat) * (a.lat - b.lat) <= {eps * eps!r}
"""


def graph_sdfg_sql() -> str:
    """Combined CFG+DFG: chain edges UNION def->use pairs from the
    recursive reaching-definitions closure."""
    return f"""
WITH RECURSIVE {_rda_ctes()}
SELECT DISTINCT src, dst, edge_type FROM (
  SELECT src, dst, 'cfg' AS edge_type FROM be
  UNION ALL
  SELECT r.def_node AS src, r.node AS dst, 'dfg' AS edge_type
  FROM r JOIN uses u ON u.node = r.node AND u.var = r.var
)
"""


def repetition_sql() -> str:
    """Word-2-gram repetition signals; integer-ppm via exact // division.
    Docs with <2 words vanish (empty generate_series), matching Spark's
    size>=2 filter."""
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
{_bigram_repetition("w")}
"""


# the crawl-URL fixture + canonicalizer chain (fragment -> utm params ->
# orphan ?/& -> lowercase scheme+host -> trailing slash), mirrored
# independently from queries._crawl_pages / curation.canonicalize_url.
# Ends with CTE `canon(doc_id, canonical_url)`.
_CRAWL_CANON_CTES = """
raw AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 5 = 0
       THEN printf('HTTPS://HOST%04d.EXAMPLE/doc/%d', (doc_id // 3) % 100, doc_id // 3)
       ELSE printf('https://host%04d.example/doc/%d', (doc_id // 3) % 100, doc_id // 3)
     END)
    || (CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN '?utm_source=feed&utm_medium=rss'
        WHEN 2 THEN '#sec-2' ELSE '/' END) AS url
  FROM documents
),
c1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS u FROM raw),
c2 AS (SELECT doc_id, regexp_replace(u, 'utm_[a-z]+=[^&]*&?', '', 'g') AS u FROM c1),
c3 AS (SELECT doc_id, regexp_replace(u, '[?&]$', '', 'g') AS u FROM c2),
c4 AS (SELECT doc_id,
         lower(regexp_extract(u, '(?i)^(https?://[^/]+)', 1)) ||
         regexp_replace(u, '(?i)^https?://[^/]+', '', 'g') AS u FROM c3),
canon AS (SELECT doc_id, regexp_replace(u, '/+$', '', 'g') AS canonical_url FROM c4)
"""

# per crawl host of ``canon``: pages, distinct canonical urls, dup share
_HOST_DUP_CTE = f"""agg AS (
  SELECT {_host_of("canonical_url")} AS host,
         CAST(count(*) AS BIGINT) AS n_pages,
         CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
         CAST((count(*) - count(DISTINCT canonical_url)) * 1000000
              // count(*) AS BIGINT) AS dup_ppm
  FROM canon GROUP BY 1
)"""


def url_canonical_dedup_sql() -> str:
    """The shared crawl fixture/canonicalizer CTEs, then the one-aggregate
    dedup."""
    return f"""
WITH {_CRAWL_CANON_CTES}
SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups, min(doc_id) AS keep_doc_id
FROM canon GROUP BY 1
"""


def domain_stats_sql() -> str:
    """Per-host page/url counts + dup ppm over the shared crawl fixture,
    blocklist = host number % 7 == 3 (independent host dim)."""
    return f"""
WITH {_CRAWL_CANON_CTES},
{_HOST_DUP_CTE},
bl AS (SELECT host FROM {_host_nodes()} WHERE i % 7 = 3)
SELECT a.host, a.n_pages, a.n_urls, a.dup_ppm,
       (bl.host IS NOT NULL) AS blocked
FROM agg a LEFT JOIN bl ON a.host = bl.host
"""


# &amp; decoded LAST (single-pass semantics: '&amp;lt;' -> '&lt;' the
# text, never '<') — innermost replace applies first, so &amp; is the
# outermost call, mirroring webtext._ENTITIES order.
_ENT_DECODE = (
    "replace(replace(replace(replace(replace(replace({c}, "
    "'&lt;','<'), '&gt;','>'), '&quot;', chr(34)), "
    "'&#39;', chr(39)), '&nbsp;',' '), '&amp;','&')"
)

# the HTML page fixture (mirrors queries._html_pages) + the extraction
# chain (script/style removal -> title pull -> tag strip -> entity decode
# in pinned order -> whitespace collapse) in DuckDB/RE2. Ends with CTE
# `ext(doc_id, title, body)`.
_HTML_EXTRACT_CTES = f"""
page AS (
  SELECT doc_id,
    printf('<html><head><title>Doc %d &amp; co</title><style>body{{color:#%d}}</style></head><body><script>if(1<2){{x=%d;}}</script><p>%s</p><p>&lt;b&gt;note&amp;%d&lt;/b&gt;</p><div class="nav">Home | About</div></body></html>',
           doc_id, doc_id % 1000, doc_id % 7, text, doc_id % 3) AS html
  FROM documents
),
s1 AS (
  SELECT doc_id,
    regexp_replace(regexp_replace(html,
      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS u
  FROM page
),
s2 AS (
  SELECT doc_id,
    regexp_extract(u, '(?s)<title>(.*?)</title>', 1) AS title_raw,
    regexp_replace(u, '<[^>]+>', ' ', 'g') AS body_raw
  FROM s1
),
ext AS (
  SELECT doc_id,
    {_ENT_DECODE.format(c='title_raw')} AS title,
    trim(regexp_replace({_ENT_DECODE.format(c='body_raw')}, '\\s+', ' ', 'g')) AS body
  FROM s2
)
"""


def html_extract_sql() -> str:
    """Independent rebuild of the HTML page fixture AND the extraction
    chain in DuckDB/RE2 (shared CTE block)."""
    return f"""
WITH {_HTML_EXTRACT_CTES}
SELECT doc_id, title, body, CAST(length(body) AS INT) AS body_chars FROM ext
"""


def web_ingest_sql() -> str:
    """Composed mirror of the END-TO-END crawl ingest: the HTML extraction
    CTEs + word-2-gram repetition + the quality gates (>=30 words,
    top-2-gram <= 100000 ppm) + the crawl-URL canonicalizer chain +
    first-fetch-wins dedup (arg_min over doc_id — the engine's fetch id
    blob*8+rec_idx is monotone in doc_id, so the same fetch wins).

    Deliberately SKIPS the WARC framing roundtrip (proven lossless by
    webtext_warc_records' own oracle) and derives per-doc signals directly
    — an independent derivation, not a mirror of the engine's plan."""
    return f"""
WITH {_HTML_EXTRACT_CTES},
{_CRAWL_CANON_CTES.lstrip()},
bw AS (SELECT doc_id, title, body, string_split(body, ' ') AS ws FROM ext),
rep AS ({_bigram_repetition("bw")}),
q AS (
  SELECT bw.doc_id, bw.title, length(bw.body) AS body_chars,
         rep.n_grams, rep.top_gram_ppm
  FROM bw JOIN rep USING (doc_id)
  WHERE len(bw.ws) >= 30 AND rep.top_gram_ppm <= 100000
)
SELECT c.canonical_url,
       CAST(count(*) AS BIGINT) AS n_fetches,
       arg_min(q.title, q.doc_id) AS title,
       CAST(arg_min(q.body_chars, q.doc_id) AS INT) AS body_chars,
       arg_min(q.n_grams, q.doc_id) AS n_grams,
       arg_min(q.top_gram_ppm, q.doc_id) AS top_gram_ppm
FROM q JOIN canon c USING (doc_id)
GROUP BY 1
"""


# the WARC chunk fixture: records rec(doc_id, blob_id, r) concatenated by
# doc_id into blob(blob_id, n_records, payload)
_WARC_BLOBS_CTE = """rec AS (
  SELECT doc_id, doc_id // 5 AS blob_id,
    'WARC/1.0' || chr(10)
    || printf('WARC-Target-URI: https://host%04d.example/doc/%d', doc_id % 100, doc_id) || chr(10)
    || printf('Content-Length: %d', length(text)) || chr(10) || chr(10)
    || text || chr(10) || chr(10) AS r
  FROM documents
),
blob AS (
  SELECT blob_id, count(*) AS n_records,
         string_agg(r, '' ORDER BY doc_id) AS payload
  FROM rec GROUP BY 1
)"""


def warc_records_sql() -> str:
    """Independent rebuild of the WARC chunk fixture (string_agg ordered by
    doc_id — vs Spark's array_sort-of-structs build) and the record split
    (string_split + generate_series index vs split+posexplode)."""
    return f"""
WITH {_WARC_BLOBS_CTE},
parts AS (
  SELECT blob_id,
         string_split(payload, 'WARC/1.0' || chr(10)) AS arr
  FROM blob
),
idx AS (
  SELECT blob_id, arr, unnest(generate_series(1, len(arr))) AS i FROM parts
),
recs AS (
  SELECT blob_id, i, arr[i] AS rec FROM idx WHERE arr[i] <> ''
)
SELECT blob_id,
       CAST(i - 2 AS INT) AS rec_idx,
       regexp_extract(rec, 'WARC-Target-URI: ([^\\n]+)', 1) AS uri,
       CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS BIGINT)
         AS declared_len,
       regexp_extract(rec, '(?s)\\n\\n(.*?)\\n\\n', 1) AS body,
       CAST(length(regexp_extract(rec, '(?s)\\n\\n(.*?)\\n\\n', 1)) AS INT)
         AS body_chars
FROM recs
"""


def familiarity_sql() -> str:
    """Two-pass unigram familiarity, derived independently: token counts,
    rank window with the pinned (freq DESC, tok ASC) tie-break, integer //
    rollups per doc."""
    return """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
nz AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
vocab AS (SELECT tok, count(*) AS freq FROM nz GROUP BY 1),
model AS (
  SELECT tok, freq,
         row_number() OVER (ORDER BY freq DESC, tok ASC) AS zipf_rank
  FROM vocab
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(freq) // count(*) AS BIGINT) AS mean_tok_freq,
       CAST(sum(zipf_rank) * 1000 // count(*) AS BIGINT)
         AS mean_zipf_rank_milli
FROM nz JOIN model USING (tok)
GROUP BY 1
"""


def decontaminate_score_sql(
    n: int = 5, bench_mod: int = 50, bench_rem: int = 7
) -> str:
    """Fractional contamination ppm: distinct word n-gram hit share vs the
    benchmark slice, integer // arithmetic."""
    return f"""
WITH {_TOKS}, {_shingles_cte(n)},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {bench_mod} = {bench_rem}),
train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {bench_mod} <> {bench_rem}),
tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1),
hit AS (
  SELECT t.doc_id, count(*) AS n_hits
  FROM train t JOIN bench b USING (shingle)
  GROUP BY 1
)
SELECT tot.doc_id, CAST(tot.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(hit.n_hits, 0) * 1000000 // tot.n_shingles AS BIGINT)
         AS contamination_ppm
FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
"""


def source_mix_sql(scale: int = 4) -> str:
    """Temperature mix summary: floor(sqrt(n)*scale) targets (IEEE sqrt is
    correctly rounded -> bit-identical across engines), LCG hash-rate
    selection in exact BIGINT arithmetic."""
    return f"""
WITH c AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1),
t AS (SELECT source, n_total,
             CAST(floor(sqrt(n_total) * {scale}) AS BIGINT) AS target_n
      FROM c),
s AS (
  SELECT d.source, t.n_total, t.target_n,
         (((d.doc_id * 1103515245 + 12345) % 2147483648) % t.n_total
          < t.target_n) AS sel
  FROM documents d JOIN t USING (source)
)
SELECT source, CAST(n_total AS BIGINT) AS n_total, target_n,
       CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
FROM s GROUP BY 1, 2, 3
"""


def graph_sdfg_interproc_sql() -> str:
    """Combined SDFG + interprocedural families, derived independently:
    the recursive RDA closure for dfg edges, then argument_to_parameter
    (positional arg/param zip, by-ref filter) and return_to_caller
    (returned var x call-site-defined var) from the same deterministic
    call/param/return fixture relations."""
    return f"""
WITH RECURSIVE {_rda_ctes()},
calls AS (
  SELECT graph_id, node_id AS call_node, node_id % 4 AS fn_id
  FROM n WHERE node_id % 7 = 3
),
fndefs AS (
  SELECT graph_id, node_id % 4 AS fn_id, min(node_id) AS fn_node
  FROM n GROUP BY 1, 2
),
args AS (
  SELECT graph_id, call_node, fn_id,
         unnest(generate_series(0, call_node % 3)) AS pos
  FROM calls
),
params AS (
  SELECT f.range AS fn_id, p.range AS pos,
         (f.range * 3 + p.range) % 5 AS param_var,
         ((f.range + p.range) % 2 = 0) AS by_ref
  FROM range(4) f, range(3) p
),
rets AS (
  SELECT graph_id, node_id AS ret_node, node_id % 4 AS fn_id,
         node_id % 5 AS ret_var
  FROM n WHERE node_id % 11 = 5
)
SELECT DISTINCT src, dst, edge_type, var_out, var_in FROM (
  SELECT src, dst, 'cfg' AS edge_type, '-' AS var_out, '-' AS var_in FROM be
  UNION ALL
  SELECT r.def_node, r.node, 'dfg',
         CAST(r.var AS VARCHAR), CAST(r.var AS VARCHAR)
  FROM r JOIN uses u ON u.node = r.node AND u.var = r.var
  UNION ALL
  SELECT a.call_node, d.fn_node, 'argument_to_parameter',
         CAST((a.call_node + a.pos) % 5 AS VARCHAR),
         CAST(pm.param_var AS VARCHAR)
  FROM args a
  JOIN params pm ON pm.fn_id = a.fn_id AND pm.pos = a.pos AND pm.by_ref
  JOIN fndefs d ON d.graph_id = a.graph_id AND d.fn_id = a.fn_id
  UNION ALL
  SELECT rt.ret_node, c.call_node, 'return_to_caller',
         CAST(rt.ret_var AS VARCHAR), CAST(c.call_node % 5 AS VARCHAR)
  FROM rets rt
  JOIN calls c ON c.graph_id = rt.graph_id AND c.fn_id = rt.fn_id
             AND c.call_node % 2 = 1
)
"""


def text_normalize_sql() -> str:
    return r"""
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]+', ' ', 'g'),
                             '\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS n_norm_chars,
       md5(norm) AS norm_hash
FROM n
"""


def template_resolve_sql(n_gaz: int = layers.N_GAZ) -> str:
    """Mirror of the specialization-priority resolution: candidates from all
    four tiers UNION ALL'd, winner = row_number 1 over (tier, template_id) —
    the same ordering as the engine's priority window."""
    return f"""
WITH {_mentions_cte()},
m2 AS (
  SELECT url, entity_id, surface,
         CASE gi % 3 WHEN 0 THEN 'city' WHEN 1 THEN 'poi' ELSE 'region' END AS kind
  FROM ment
),
cand AS (
  SELECT url, entity_id, 0 AS lvl, 'exact' AS via, CAST(ex.i AS BIGINT) AS template_id
  FROM m2 JOIN (SELECT printf('GEO_%05d', i) AS surface, i
                FROM range({n_gaz}) t(i) WHERE i % 4 = 0) ex USING (surface)
  UNION ALL
  SELECT url, entity_id, 1, 'prefix7', CAST(p7.b + 100000 AS BIGINT)
  FROM m2 JOIN (SELECT printf('GEO_%03d', b) AS pat7, b
                FROM range(10) t(b) WHERE b % 2 = 0) p7
    ON substr(m2.surface, 1, 7) = p7.pat7
  UNION ALL
  SELECT url, entity_id, 2, 'suffix2', CAST(s2.s + 150000 AS BIGINT)
  FROM m2 JOIN (SELECT printf('%02d', s) AS suf2, s
                FROM range(100) t(s) WHERE s % 3 = 0) s2
    ON substr(m2.surface, 8, 2) = s2.suf2
  UNION ALL
  SELECT url, entity_id, 3, 'primary', CAST(k.template_id AS BIGINT)
  FROM m2 JOIN (VALUES ('city', 200000), ('poi', 200001), ('region', 200002),
                       ('*', 999999)) k(kind, template_id)
    ON m2.kind = k.kind OR k.kind = '*'
),
best AS (
  SELECT url, entity_id, via, template_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY url, entity_id ORDER BY lvl, template_id) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT m2.url, m2.entity_id, m2.surface, best.template_id, best.via
FROM m2 JOIN best USING (url, entity_id)
"""


def catch_match_sql() -> str:
    """Mirror of the first-compatible-catch cascade: recursive-CTE reflexive
    ancestor closure of the 31-class binary tree, priority = declaration
    order, first compatible catch wins, unmatched throws escape as -1."""
    return f"""
WITH RECURSIVE {_graph_ctes()},
throws AS (
  SELECT graph_id, node_id, node_id % 31 AS thrown_class FROM n WHERE node_id % 5 = 2
),
tre AS (SELECT CAST((i - 1) // 2 AS BIGINT) AS anc, i AS des FROM range(1, 31) t(i)),
compat(anc, des) AS (
  SELECT i, i FROM range(31) t(i)
  UNION
  SELECT e.anc, c.des FROM compat c JOIN tre e ON e.des = c.anc
),
catches AS (
  SELECT g.graph_id, j AS prio, (g.graph_id * 7 + j * 13) % 31 AS catch_class
  FROM (SELECT DISTINCT graph_id FROM n) g, range(4) t(j)
),
m AS (
  SELECT t.graph_id, t.node_id, c.prio, c.catch_class,
         row_number() OVER (PARTITION BY t.graph_id, t.node_id
                            ORDER BY c.prio) AS rn
  FROM throws t
  JOIN catches c ON c.graph_id = t.graph_id
  JOIN compat ON compat.anc = c.catch_class AND compat.des = t.thrown_class
)
SELECT t.graph_id, t.node_id, t.thrown_class,
       CAST(coalesce(m.prio, -1) AS BIGINT) AS catch_prio,
       CAST(coalesce(m.catch_class, -1) AS BIGINT) AS catch_class
FROM throws t
LEFT JOIN m ON m.graph_id = t.graph_id AND m.node_id = t.node_id AND m.rn = 1
"""


def preproc_filter_sql() -> str:
    """Independent derivation of the guard activation (the oracle evaluates
    the TRUTH TABLE of the six guards under the fixed config, not the
    engine's HOF evaluator — a stronger check than a mirror)."""
    return """
SELECT doc_id,
       CASE doc_id % 6
         WHEN 0 THEN 'HAS_GEO'
         WHEN 1 THEN '!HAS_GEO'
         WHEN 2 THEN 'HAS_LANG&&HAS_GEO'
         WHEN 3 THEN '!HAS_LANG'
         WHEN 4 THEN 'HAS_LANG||HAS_GEO'
         ELSE '!HAS_GEO&&!HAS_LANG' END AS guard,
       CASE doc_id % 6
         WHEN 0 THEN true
         WHEN 1 THEN false
         WHEN 2 THEN false
         WHEN 3 THEN true
         WHEN 4 THEN true
         ELSE false END AS active
FROM documents
"""


def dedup_groups_embedding_sql(
    threshold: float = 0.4, dim: int = 64, n_planes: int = 12,
    max_hamming: int = 2,
) -> str:
    """Components over the deterministic embedding-LSH pair graph (the same
    quadratic candidate mirror as ``dedup_embedding_lsh_sql``, then the same
    recursive-CTE min-label components as ``dedup_groups_sql``)."""
    cand = _lsh_pairs("a.vec_id < bb.vec_id", max_hamming)
    return f"""
WITH RECURSIVE {_QUANT_CTE}, {_lsh_buckets_cte(dim, n_planes)},
pairs AS ({_near_dups(cand, threshold)}),
{_components_cte("pairs", "vec_id_a", "vec_id_b")}
SELECT e.vec_id, coalesce(c.component, e.vec_id) AS group_id
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
"""


def decontaminate_sql(n: int = 4, bench_mod: int = 50, bench_rem: int = 7) -> str:
    """n-gram overlap between train docs and the benchmark slice."""
    return f"""
WITH {_TOKS}, {_shingles_cte(n)},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {bench_mod} = {bench_rem}),
hits AS (
  SELECT doc_id, count(*) AS n_hits FROM sh
  WHERE doc_id % {bench_mod} <> {bench_rem}
    AND shingle IN (SELECT shingle FROM bench)
  GROUP BY 1
)
SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {bench_mod} <> {bench_rem}
"""


def pack_sequences_sql(budget: int = 512) -> str:
    """Global prefix-sum packing mirror (DuckDB runs the single-node window
    the engine deliberately avoids)."""
    return f"""
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
{_pack_sql("t", budget)}
"""


def pii_scrub_sql() -> str:
    """Same injection, same RE2-compatible patterns, same replacement order."""
    return f"""
WITH inj AS (
  SELECT doc_id,
         text || (CASE doc_id % 4
                    WHEN 0 THEN ' contact agent007@example.com now'
                    WHEN 1 THEN ' call 5551234567'
                    WHEN 2 THEN ' ref 4111111122223333 id'
                    ELSE '' END) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{LONG_DIGITS_RE}')) AS BIGINT) AS n_long_digits,
       {_SCRUB_HASH} AS clean_hash
FROM inj
"""


def boilerplate_strip_sql(seg_len: int = 8, max_docs: int = 2) -> str:
    """Same segmentation (fixed token windows), frequency cut and ordered
    reassembly in DuckDB list/string functions."""
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(list_slice(w, i * {seg_len} + 1, i * {seg_len} + {seg_len}), ' ') AS seg
  FROM toks, unnest(range(CAST(ceil(len(w) / {seg_len}.0) AS BIGINT))) t(i)
),
freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1),
kept AS (SELECT s.doc_id, s.seg_idx, s.seg FROM segs s JOIN freq USING (seg)
         WHERE freq.df <= {max_docs}),
re AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS clean
  FROM kept GROUP BY 1
)
SELECT d.doc_id,
       CAST(ceil(len(string_split(d.text, ' ')) / {seg_len}.0) AS BIGINT) AS n_segs,
       CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(re.clean, '')) AS clean_hash
FROM documents d LEFT JOIN re USING (doc_id)
"""


def simhash_sql(max_hamming: int = 3) -> str:
    """SEMANTIC oracle for the md5-hasher SimHash near-dup pairs: the same
    simhash construction (signed-64 md5 token hash, 64 sign sums), then the
    pure quadratic hamming predicate — no band blocking. Equality therefore
    also proves the engine's 4x16-bit pigeonhole blocking is lossless."""
    return f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id,
         CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
                   THEN u::HUGEINT - 18446744073709551616::HUGEINT
                   ELSE u::HUGEINT END AS BIGINT) AS h
  FROM (SELECT doc_id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS u FROM toks)
),
pow2(i, p) AS (SELECT 0, 1::HUGEINT UNION ALL SELECT i + 1, p * 2 FROM pow2 WHERE i < 63),
sums AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, range(64) t(i) GROUP BY 1, 2
),
sim AS (
  SELECT doc_id,
         CAST(CASE WHEN su >= 9223372036854775808::HUGEINT
                   THEN su - 18446744073709551616::HUGEINT
                   ELSE su END AS BIGINT) AS simhash
  FROM (SELECT doc_id, sum(CASE WHEN s > 0 THEN p ELSE 0::HUGEINT END) AS su
        FROM sums JOIN pow2 USING (i) GROUP BY 1)
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def q4_priority_counts_sql() -> str:
    return """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1
"""


def q16_supplier_variety_sql() -> str:
    return """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""


def tile_smooth_sql(res: int = 7, grid_res: int = 10) -> str:
    """3x3 box convolution over the res-7 raster (same clamped edges)."""
    shift = grid_res - res
    n = (1 << res) - 1
    return f"""
WITH {_pts0_only()},
base AS (
  SELECT gx >> {shift} AS x, gy >> {shift} AS y, count(*) AS n_docs
  FROM pts0 GROUP BY 1, 2
),
contrib AS (
  SELECT b.x + dx.d AS tx, b.y + dy.d AS ty, sum(n_docs) AS smoothed
  FROM base b, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d)
  WHERE b.x + dx.d BETWEEN 0 AND {n} AND b.y + dy.d BETWEEN 0 AND {n}
  GROUP BY 1, 2
)
SELECT {cells.morton_sql('b.x', 'b.y', res)} AS cell_id, b.n_docs,
       CAST(c.smoothed AS BIGINT) AS smoothed
FROM base b JOIN contrib c ON c.tx = b.x AND c.ty = b.y
"""


def events_stream_join_sql() -> str:
    """Batch mirror of the stream-stream interval join."""
    return """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 HOUR
"""


def train_set_sql(
    threshold: float = 0.5, n_decon: int = 4,
    bench_mod: int = 50, bench_rem: int = 7, budget: int = 512,
) -> str:
    """Composed mirror of the stage-7 train-set pipeline: the
    ``dedup_groups_sql`` groups -> representatives -> 4-gram
    decontamination (benchmark docs dropped) -> global prefix-sum packing
    -> PII-scrub hash."""
    scrub = f",\n       {_SCRUB_HASH} AS clean_hash"
    return f"""
WITH RECURSIVE {_jaccard_groups_cte(threshold)},
surv AS (
  SELECT d.doc_id, d.text FROM documents d JOIN grp USING (doc_id)
  WHERE grp.group_id = d.doc_id
),
toks4 AS (SELECT doc_id, string_split(text, ' ') AS w FROM surv),
{_shingles_cte(n_decon, "toks4", "sh4")},
bench4 AS (SELECT DISTINCT shingle FROM sh4 WHERE doc_id % {bench_mod} = {bench_rem}),
contaminated AS (
  SELECT DISTINCT doc_id FROM sh4
  WHERE doc_id % {bench_mod} <> {bench_rem}
    AND shingle IN (SELECT shingle FROM bench4)
),
clean AS (
  SELECT doc_id, text FROM surv
  WHERE doc_id % {bench_mod} <> {bench_rem}
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
),
t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, text FROM clean)
{_pack_sql("t", budget, scrub)}
"""


def rda_last_def_sql() -> str:
    """Argmax wrapper over the reaching-definitions oracle (the CLI's
    --last-def flag)."""
    return (
        "SELECT node_id, var, max(def_node) AS last_def FROM ("
        + graph_rda_sql()
        + ") t GROUP BY 1, 2"
    )


def dfg_last_use_sql() -> str:
    """Per-definition last reached use (the CLI's --last-use flag)."""
    return (
        "SELECT def_node, var, max(node_id) AS last_use FROM ("
        + graph_rda_sql()
        + ") t WHERE node_id % 5 = 2 AND var = node_id % 3 GROUP BY 1, 2"
    )


def robots_filter_sql() -> str:
    """Allowed pages under the planted disallow rules — NOT EXISTS with a
    starts_with prefix test (independent of Spark's anti-join plan)."""
    return f"""
WITH {_CRAWL_CANON_CTES},
parts AS (
  SELECT doc_id, canonical_url, {_host_of("canonical_url")} AS host,
         regexp_replace(canonical_url, '^https?://[^/]+', '', 'g') AS path
  FROM canon
),
rules AS (
  SELECT host, '/doc/1' AS path_prefix FROM {_host_nodes()} WHERE i % 5 = 2
  UNION ALL
  SELECT host, '/doc/2' FROM {_host_nodes()} WHERE i % 3 = 0
)
SELECT p.doc_id, p.canonical_url, p.host, p.path
FROM parts p
WHERE NOT EXISTS (
  SELECT 1 FROM rules r
  WHERE r.host = p.host AND starts_with(p.path, r.path_prefix)
)
"""


def stream_url_dedup_sql() -> str:
    """Distinct canonical URLs (the streaming first-fetch projection)."""
    return f"""
WITH {_CRAWL_CANON_CTES}
SELECT DISTINCT canonical_url FROM canon
"""


def dedup_containment_sql(threshold_ppm: int = 500_000) -> str:
    """Exact containment pairs: |A∩B| * 1e6 // min(|A|,|B|) over the same
    shared-shingle pair space as the Jaccard oracle."""
    return f"""
WITH {_OVERLAP_CTE}
SELECT doc_id_a, doc_id_b,
       CAST(inter * 1000000 // least(na, nb) AS BIGINT) AS containment_ppm
FROM ovn WHERE inter * 1000000 // least(na, nb) >= {threshold_ppm}
"""


def domain_rank_sql(iterations: int = 10) -> str:
    """PageRank: the teleport-rank iterations with every host a seed."""
    return _teleport_rank_sql(iterations, "1")


def webtext_trustrank_sql(iterations: int = 10) -> str:
    """Mirror of linkgraph.trustrank_integer: the teleport-rank iterations
    with the teleport term gated on the seed set (every 10th host, the
    crawl-seed fixture)."""
    return _teleport_rank_sql(iterations, "CASE WHEN i % 10 = 0 THEN 1 ELSE 0 END")


def bpe_train_sql(merges: int = 8) -> str:
    """The BPE training rounds UNROLLED: word-frequency table once, then
    per round a weighted adjacent-pair count, a (count desc, pair asc)
    argmax, and the bracket-delimited replace — the same greedy disjoint
    merge semantics as operators/bpe.py (see its encoding note)."""
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS merge_rank, sym_a, sym_b, pair_count FROM b{k}"
        for k in range(1, merges + 1)
    )
    return _rounds(_BPE_WORDS, merges, _bpe_round, finals)


# the linked-page fixture + the outlink extraction (element pull,
# href/anchor parse, RFC-3986-subset resolution) in DuckDB/RE2 — same
# lazy-span patterns as the engine, list indexing + range() for the
# stable in-page link index. Ends with CTE
# `links(doc_id, link_idx, src_host, dst_url, anchor_text)`.
_OUTLINKS_CTES = r"""
page AS (
  SELECT doc_id,
    printf('https://host%04d.example/page/%d', (doc_id // 3) % 100, doc_id)
      AS url,
    printf('<html><body><p>%s</p><a href="https://host%04d.example/doc/%d">read <b>more</b> %d</a> <a class="nav" href="/page/%d?ref=1">next page</a> <a href="javascript:void(0)">noop</a><a href="#top">top</a></body></html>',
      text, (doc_id * 7 + 3) % 100, doc_id % 50, doc_id % 10, doc_id % 20)
      AS html
  FROM documents
),
el AS (
  SELECT doc_id,
         lower(regexp_extract(url, '(?i)^https?://[^/]+')) AS base,
         regexp_extract_all(html,
           '(?s)<a [^>]*href="[^"]*"[^>]*>.*?</a>') AS a
  FROM page
),
ex AS (
  SELECT doc_id, base, i AS link_idx, a[i + 1] AS elem
  FROM el, unnest(range(len(a))) AS t(i)
),
parsed AS (
  SELECT doc_id, link_idx, base,
    regexp_extract(elem, 'href="([^"]*)"', 1) AS href,
    trim(regexp_replace(regexp_replace(
      regexp_extract(elem, '(?s)>(.*?)</a>', 1),
      '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS anchor_text
  FROM ex
),
links AS (
  SELECT doc_id, CAST(link_idx AS INT) AS link_idx,
         regexp_replace(base, '^https?://', '') AS src_host,
         CASE WHEN regexp_matches(href, '(?i)^https?://')
              THEN lower(regexp_extract(href, '(?i)^https?://[^/]+')) ||
                   regexp_replace(href, '(?i)^https?://[^/]+', '')
              WHEN href LIKE '/%' AND base <> '' THEN base || href END AS dst_url,
         anchor_text
  FROM parsed
  WHERE regexp_matches(href, '(?i)^https?://') OR (href LIKE '/%' AND base <> '')
)"""


def outlinks_sql() -> str:
    """Outlink rows off the shared CTE block (see _OUTLINKS_CTES)."""
    return f"""
WITH {_OUTLINKS_CTES}
SELECT doc_id, link_idx, dst_url, anchor_text FROM links
"""


def host_graph_sql() -> str:
    """Weighted host->host edges off the shared outlink CTEs; intra-host
    edges excluded (the domain-graph convention the engine defaults to)."""
    return f"""
WITH {_OUTLINKS_CTES}
SELECT src_host,
       {_host_of("dst_url")} AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links
FROM links
WHERE src_host != {_host_of("dst_url")}
GROUP BY 1, 2
"""


def bloom_frontier_sql(m: int = 2048, k: int = 2) -> str:
    """Mirror of dedup.bloom_prefilter over the outlink-frontier /
    crawled-page fixture: identical md5-position filter (same salts,
    same 7-hex-digit prefix conversion), exact leg, one summary row."""
    def pos(expr: str, i: int) -> str:
        return (f"('0x' || substr(md5('bloom{i}:' || {expr}), 1, 7))"
                f"::BIGINT % {m}")

    bits = ",".join(
        f"""
bits{i} AS (SELECT DISTINCT {pos('url', i)} AS p FROM seen)"""
        for i in range(k)
    )
    probes = "\n  ".join(
        f"LEFT JOIN bits{i} b{i} ON {pos('c.url', i)} = b{i}.p"
        for i in range(k)
    )
    hit = " AND ".join(f"b{i}.p IS NOT NULL" for i in range(k))
    return f"""
WITH {_OUTLINKS_CTES},
cand AS (SELECT DISTINCT regexp_replace(dst_url, '\\?.*$', '') AS url
         FROM links),
seen AS (SELECT DISTINCT url FROM page),{bits},
probed AS (
  SELECT c.url,
    CASE WHEN {hit} THEN 1 ELSE 0 END AS bloom_hit,
    CASE WHEN s.url IS NOT NULL THEN 1 ELSE 0 END AS seen_exact
  FROM cand c
  {probes}
  LEFT JOIN seen s ON c.url = s.url
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
  CAST(sum(seen_exact) AS BIGINT) AS n_seen_exact,
  CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hit,
  CAST(sum(CASE WHEN bloom_hit = 1 AND seen_exact = 0 THEN 1 ELSE 0 END)
    AS BIGINT) AS n_false_pos,
  CAST(sum(CASE WHEN bloom_hit = 1 AND seen_exact = 0 THEN 1 ELSE 0 END)
    * 1000000 // (count(*) - sum(seen_exact)) AS BIGINT) AS fp_ppm
FROM probed
"""


def anchor_index_sql() -> str:
    """Per-target anchor aggregation: inbound link count, distinct anchor
    phrasings, and the modal anchor under the (count desc, anchor asc)
    tie-break — a row_number window, the independent formulation of the
    engine's min_by-over-(-cnt, anchor) struct ordering."""
    return f"""
WITH {_OUTLINKS_CTES},
per AS (
  SELECT dst_url, anchor_text, count(*) AS cnt
  FROM links GROUP BY 1, 2
),
ranked AS (
  SELECT dst_url, anchor_text, cnt,
         row_number() OVER (PARTITION BY dst_url
                            ORDER BY cnt DESC, anchor_text) AS rn
  FROM per
),
agg AS (
  SELECT dst_url,
         CAST(sum(cnt) AS BIGINT) AS n_links,
         CAST(count(*) AS BIGINT) AS n_anchors,
         CAST(max(cnt) AS BIGINT) AS top_anchor_links
  FROM per GROUP BY 1
)
SELECT a.dst_url, a.n_links, a.n_anchors,
       r.anchor_text AS top_anchor, a.top_anchor_links
FROM agg a JOIN ranked r ON a.dst_url = r.dst_url AND r.rn = 1
"""


def hits_sql(iterations: int = 5) -> str:
    """The HITS power iterations UNROLLED — per iteration one auth layer
    (sum of hub over in-edges, renormalized to max=1e6 with integer
    truncation) and one hub layer (sum of the NEW auth over out-edges,
    same renorm), bit-exact vs linkgraph.hits_integer.

    Every layer CTE is MATERIALIZED: each is referenced twice (the max
    aggregate and the renorm join), and DuckDB's default CTE inlining
    duplicates the subtree per reference — ~4^k planning blowup that
    hangs at k=5 (the same double-consumption that forces the engine's
    per-iteration localCheckpoint). Materialization keeps both engines
    linear in k."""
    head = f"""
WITH {_host_edges_cte("edges")},
nodes AS (SELECT host FROM {_host_nodes()}),
h0 AS (SELECT host AS node, CAST(1000000 AS BIGINT) AS hub FROM nodes)"""
    return _rounds(head, iterations, lambda k: f"""
ar{k} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS raw
  FROM edges e JOIN h{k - 1} h ON e.src = h.node GROUP BY 1
),
am{k} AS MATERIALIZED (SELECT max(raw) AS mx FROM ar{k}),
a{k} AS MATERIALIZED (
  SELECT n.host AS node,
         CAST(coalesce(r.raw, 0) * 1000000 // m.mx AS BIGINT) AS auth
  FROM nodes n LEFT JOIN ar{k} r ON n.host = r.node CROSS JOIN am{k} m
),
hr{k} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS raw
  FROM edges e JOIN a{k} a ON e.dst = a.node GROUP BY 1
),
hm{k} AS MATERIALIZED (SELECT max(raw) AS mx FROM hr{k}),
h{k} AS MATERIALIZED (
  SELECT n.host AS node,
         CAST(coalesce(r.raw, 0) * 1000000 // m.mx AS BIGINT) AS hub
  FROM nodes n LEFT JOIN hr{k} r ON n.host = r.node CROSS JOIN hm{k} m
)""", f"""SELECT h.node AS host, h.hub AS hub_micro, a.auth AS auth_micro
FROM h{iterations} h JOIN a{iterations} a ON h.node = a.node
""")


def snapshot_diff_sql() -> str:
    """Independent rebuild of both crawl snapshots + the full-outer
    classification + the host rollup."""
    return f"""
WITH u AS (
  SELECT doc_id,
    printf('https://host%04d.example/page/%d', (doc_id // 3) % 100, doc_id)
      AS url,
    text
  FROM documents
),
olds AS (SELECT url, md5(text) AS old_fp FROM u WHERE doc_id % 10 != 7),
news AS (
  SELECT url,
         CASE WHEN doc_id % 5 = 0 THEN md5(text || ' v2')
              ELSE md5(text) END AS new_fp
  FROM u WHERE doc_id % 10 != 3
),
d AS (
  SELECT coalesce(olds.url, news.url) AS url,
    CASE WHEN old_fp IS NULL THEN 'added'
         WHEN new_fp IS NULL THEN 'removed'
         WHEN old_fp = new_fp THEN 'unchanged'
         ELSE 'changed' END AS status
  FROM olds FULL OUTER JOIN news ON olds.url = news.url
)
SELECT {_host_of("url")} AS host, status,
       CAST(count(*) AS BIGINT) AS n_urls
FROM d GROUP BY 1, 2
"""


def dup_ngrams_sql() -> str:
    """Positional (multiplicity-preserving) 3-gram counts, shingle
    document frequency, per-doc duplicated share in integer ppm."""
    return f"""
WITH {_TOKS}, {_POS_SHINGLES_CTE},
pd AS (SELECT doc_id, shingle, count(*) AS cnt FROM ps GROUP BY 1, 2),
dfq AS (SELECT shingle, count(*) AS df FROM pd GROUP BY 1)
SELECT doc_id,
  CAST(sum(cnt) AS BIGINT) AS total_ngrams,
  CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_ngrams,
  CAST(sum(CASE WHEN df >= 2 THEN cnt ELSE 0 END) * 1000000 // sum(cnt)
    AS BIGINT) AS dup_ppm
FROM pd JOIN dfq USING (shingle)
GROUP BY 1
"""


def dup_span_scrub_sql() -> str:
    """Mirror of dedup.dup_span_scrub: duplicated-shingle dim (df >= 2),
    start-position flags, n-window coverage via the same ROWS BETWEEN
    2 PRECEDING frame, ordered reassembly of surviving tokens."""
    return f"""
WITH {_TOKS}, {_POS_SHINGLES_CTE},
pd AS (SELECT doc_id, shingle FROM ps GROUP BY 1, 2),
dupsh AS (SELECT shingle FROM pd GROUP BY 1 HAVING count(*) >= 2),
ds AS (SELECT DISTINCT ps.doc_id, ps.spos FROM ps JOIN dupsh USING (shingle)),
{_TOKEN_POS_CTE},
flg AS (
  SELECT tok.doc_id, tok.pos, tok.tok,
         CASE WHEN ds.spos IS NULL THEN 0 ELSE 1 END AS flag
  FROM tok LEFT JOIN ds ON ds.doc_id = tok.doc_id AND ds.spos = tok.pos
),
cov AS (
  SELECT doc_id, pos, tok,
         max(flag) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
  FROM flg
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(covered) AS BIGINT) AS n_removed,
  coalesce(string_agg(CASE WHEN covered = 0 THEN tok END, ' ' ORDER BY pos),
           '') AS clean_text
FROM cov GROUP BY 1
"""


def cdc_chunk_stats_sql(w: int = 3, mod: int = 16) -> str:
    """Mirror of dedup.cdc_chunk_stats: same trailing w-token rolling
    window, same 'cdc:'-salted md5 boundary rule, exclusive-prefix-sum
    chunk indices, ordered chunk reassembly keyed by md5, df >= 2."""
    lags = " || ' ' || ".join(
        [f"lag(tok, {w - 1 - j}) OVER w1" for j in range(w - 1)] + ["tok"]
    )
    return f"""
WITH {_TOKS}, {_TOKEN_POS_CTE},
flg AS (
  SELECT doc_id, pos, tok,
    CASE WHEN pos >= {w - 1} AND
      ('0x' || substr(md5('cdc:' || {lags}), 1, 7))::BIGINT % {mod} = 0
    THEN 1 ELSE 0 END AS bnd
  FROM tok WINDOW w1 AS (PARTITION BY doc_id ORDER BY pos)
),
cidx AS (
  SELECT doc_id, pos, tok,
    coalesce(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
  FROM flg
),
chunks AS (
  SELECT doc_id, chunk_idx,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
  FROM cidx GROUP BY 1, 2
),
dfq AS (
  SELECT chunk_hash, count(*) AS df
  FROM (SELECT DISTINCT doc_id, chunk_hash FROM chunks) GROUP BY 1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*)
    AS BIGINT) AS dup_chunk_ppm
FROM chunks JOIN dfq USING (chunk_hash) GROUP BY 1
"""


def countmin_calibration_sql(
    w: int = 1024, d: int = 3, top: int = 100
) -> str:
    """Mirror of dedup.countmin_calibration: same positional 3-gram
    counts, same md5 'cm{i}:' salted d×w counter grid, same top-k
    (cnt desc, shingle asc) probe set, min-over-rows estimate."""
    def pos(expr: str, i_expr: str) -> str:
        return (f"('0x' || substr(md5('cm' || {i_expr} || ':' || {expr}),"
                f" 1, 7))::BIGINT % {w}")

    return f"""
WITH {_TOKS}, {_POS_SHINGLES_CTE},
cnts AS (SELECT shingle, count(*) AS exact_cnt FROM ps GROUP BY 1),
iv AS (SELECT unnest(range({d})) AS i),
grid AS (
  SELECT i, {pos('shingle', 'i')} AS pos, sum(exact_cnt) AS c
  FROM cnts CROSS JOIN iv GROUP BY 1, 2
),
topk AS (
  SELECT shingle, exact_cnt FROM cnts
  ORDER BY exact_cnt DESC, shingle LIMIT {top}
),
probed AS (
  SELECT t.shingle, t.exact_cnt, min(g.c) AS est_cnt
  FROM topk t CROSS JOIN iv
  JOIN grid g ON g.i = iv.i AND g.pos = {pos('t.shingle', 'iv.i')}
  GROUP BY 1, 2
)
SELECT shingle, CAST(exact_cnt AS BIGINT) AS exact_cnt,
  CAST(est_cnt AS BIGINT) AS est_cnt,
  CAST((est_cnt - exact_cnt) * 1000000 // exact_cnt AS BIGINT) AS over_ppm
FROM probed
"""


_TOKEN_TF_CTES = """
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT token, doc_id, count(*) AS tf
  FROM toks WHERE token != '' GROUP BY 1, 2
)"""


def inverted_index_sql(top_postings: int = 5) -> str:
    """Token-level inverted index: df / total_tf over ALL postings, plus
    the bounded top-k posting preview via an independent row_number +
    ordered string_agg formulation (the engine uses a rank-prefiltered
    collect + array_sort over (-tf, doc_id) structs)."""
    return f"""
WITH {_TOKEN_TF_CTES},
ranked AS (
  SELECT token, doc_id, tf,
         row_number() OVER (PARTITION BY token
                            ORDER BY tf DESC, doc_id) AS rn
  FROM tf
),
scal AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY 1
),
prev AS (
  SELECT token,
         string_agg(CAST(doc_id AS VARCHAR), ','
                    ORDER BY tf DESC, doc_id) AS postings
  FROM ranked WHERE rn <= {top_postings} GROUP BY 1
)
SELECT s.token, s.df, s.total_tf, p.postings
FROM scal s JOIN prev p USING (token)
"""


def tfidf_topk_sql(k: int = 3) -> str:
    """Integer tf-idf top-k per document: idf_ppm = N * 1e6 // df (both
    engines truncate on positive operands, so div == //)."""
    return f"""
WITH {_TOKEN_TF_CTES},
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.token, t.tf, d.df,
         t.tf * (n.n_docs * 1000000 // d.df) AS score
  FROM tf t JOIN dfq d USING (token) CROSS JOIN n
),
r AS (
  SELECT doc_id, token, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, CAST(rnk AS INT) AS rnk, token,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score
FROM r WHERE rnk <= {k}
"""


def crawl_schedule_sql(budget: int = 5, base_delay_ms: int = 1000) -> str:
    """Politeness frontier schedule: per-host row_number over (priority
    desc, url asc), budget cap, fetch offset = (rank-1) * host delay."""
    return f"""
WITH fr AS (
  SELECT printf('https://host%04d.example/doc/%d',
                (doc_id * 7) % 50, doc_id) AS url,
         (doc_id * 37) % 1000 AS priority,
         CASE WHEN ((doc_id * 7) % 50) % 2 = 0
              THEN 600 + (((doc_id * 7) % 50) % 4) * 200 END AS delay_ms
  FROM documents
),
w AS (
  SELECT {_host_of("url")} AS host,
         url, priority,
         max(coalesce(delay_ms, {base_delay_ms})) OVER (
           PARTITION BY {_host_of("url")}
         ) AS delay,
         row_number() OVER (
           PARTITION BY {_host_of("url")}
           ORDER BY priority DESC, url) AS rnk
  FROM fr
)
SELECT host, CAST(rnk AS INT) AS rnk, url,
       CAST(priority AS BIGINT) AS priority,
       CAST((rnk - 1) * delay AS BIGINT) AS fetch_offset_ms
FROM w WHERE rnk <= {budget}
"""


def recrawl_priority_sql() -> str:
    """Change-rate estimation: lag fingerprint comparison across 4
    snapshots, changes over transitions in integer ppm. The fixture's
    version = least(snap, doc_id%4) plants rates {{0, 1/3, 2/3, 1}}."""
    return """
WITH f AS (
  SELECT printf('https://host%04d.example/page/%d',
                (doc_id // 3) % 100, doc_id) AS url,
         snap,
         md5(printf('%s#v%d', text, least(snap, doc_id % 4))) AS fp
  FROM documents, unnest(range(4)) AS t(snap)
),
l AS (
  SELECT url, fp,
         lag(fp) OVER (PARTITION BY url ORDER BY snap) AS prev_fp
  FROM f
),
c AS (
  SELECT url,
         CASE WHEN prev_fp IS NULL THEN NULL
              WHEN prev_fp != fp THEN 1 ELSE 0 END AS chg
  FROM l
)
SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(count(chg) AS BIGINT) AS n_transitions,
       CAST(coalesce(sum(chg), 0) AS BIGINT) AS n_changes,
       CAST(CASE WHEN count(chg) = 0 THEN 0
                 ELSE coalesce(sum(chg), 0) * 1000000 // count(chg) END
            AS BIGINT) AS change_ppm
FROM c GROUP BY 1
"""


def host_templates_sql(
    min_share_ppm: int = 500_000, min_pages: int = 2
) -> str:
    """Host-scoped template detection. Groups by the raw sentence string
    where the engine groups by xxhash64(sentence) — equivalent modulo
    hash collisions, so hash injectivity is itself under test."""
    return f"""
WITH pg AS (
  SELECT printf('https://host%04d.example/page/%d',
                (doc_id // 3) % 100, doc_id) AS url,
         printf('Welcome to host %d. Cookie notice applies. %s',
                (doc_id // 3) % 100, text) AS text
  FROM documents
),
sent AS (
  SELECT {_host_of("url")} AS host, url,
         unnest(string_split_regex(text, '\\. ')) AS s
  FROM pg
),
per AS (
  SELECT host, s, count(DISTINCT url) AS n_pages_with,
         count(*) AS n_occ
  FROM sent WHERE s != '' GROUP BY 1, 2
),
hp AS (
  SELECT {_host_of("url")} AS host,
         count(DISTINCT url) AS n_pages
  FROM pg GROUP BY 1
),
fl AS (
  SELECT per.host, n_occ, n_pages,
         (n_pages >= {min_pages}
          AND n_pages_with * 1000000 // n_pages >= {min_share_ppm})
           AS is_t
  FROM per JOIN hp USING (host)
)
SELECT host, CAST(max(n_pages) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
         AS n_templates,
       CAST(sum(n_occ) AS BIGINT) AS n_sentences,
       CAST(sum(CASE WHEN is_t THEN n_occ ELSE 0 END) AS BIGINT)
         AS template_occ,
       CAST(sum(CASE WHEN is_t THEN n_occ ELSE 0 END) * 1000000
            // sum(n_occ) AS BIGINT) AS template_ppm
FROM fl GROUP BY 1
"""


def geo_hosts_sql() -> str:
    """Geo rollup of the crawl by host cell: integer Morton encode of the
    deterministic host grid coordinates + one aggregate; res-5 parent by
    right shift. Shares cells.morton_sql with every other cell oracle."""
    m = cells.morton_sql("x", "y", 7)
    return f"""
WITH h AS (
  SELECT ((doc_id // 3) % 100) AS hostnum FROM documents
),
c AS (
  SELECT hostnum, (hostnum * 13) % 128 AS x, (hostnum * 29) % 128 AS y
  FROM h
),
g AS (SELECT CAST({m} AS BIGINT) AS cell_id7, hostnum FROM c)
SELECT cell_id7, CAST(cell_id7 >> 4 AS BIGINT) AS cell_id5,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT hostnum) AS BIGINT) AS n_hosts
FROM g GROUP BY 1
"""


def gopher_filter_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: int = 3,
    max_mean_len: int = 10,
    max_symbol_ppm: int = 100_000,
    min_stopwords: int = 2,
) -> str:
    """Gopher-rule battery: independent list-op measurement (list_filter /
    list_sum / list_contains vs the engine's higher-order column fns) over
    the same planted-violation fixture; every ratio integer
    cross-multiplied. Stopword count = sum of list_contains (an
    independent formulation of the engine's array_intersect size)."""
    return f"""
WITH t0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN regexp_replace(text, '\\b(the|a|of|and|to|in)\\b',
                                  'zz', 'g')
              ELSE text END AS text
  FROM documents
),
t1 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || repeat(' #', 20)
              ELSE text END AS text
  FROM t0
),
t2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' ' || repeat('z', 1500)
              ELSE text END AS text
  FROM t1
),
m AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> w != '') AS ws
  FROM t2
),
meas AS (
  SELECT doc_id,
    CAST(len(ws) AS BIGINT) AS n_words,
    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
         AS BIGINT) AS sum_len,
    CAST(len(list_filter(ws,
      w -> regexp_matches(w, '^[#$%&*+=@^~]+$') OR w = '...'))
         AS BIGINT) AS n_symbols,
    CAST(CAST(list_contains(ws, 'the') AS INT)
       + CAST(list_contains(ws, 'a') AS INT)
       + CAST(list_contains(ws, 'of') AS INT)
       + CAST(list_contains(ws, 'and') AS INT)
       + CAST(list_contains(ws, 'to') AS INT)
       + CAST(list_contains(ws, 'in') AS INT) AS BIGINT) AS n_stopwords
  FROM m
),
r AS (
  SELECT doc_id, n_words, sum_len, n_symbols, n_stopwords,
    CASE WHEN n_words BETWEEN {min_words} AND {max_words}
         THEN 0 ELSE 1 END
    + CASE WHEN sum_len BETWEEN {min_mean_len} * n_words
                            AND {max_mean_len} * n_words
           THEN 0 ELSE 2 END
    + CASE WHEN n_symbols * 1000000 > {max_symbol_ppm} * n_words
           THEN 4 ELSE 0 END
    + CASE WHEN n_stopwords < {min_stopwords} THEN 8 ELSE 0 END AS reasons
  FROM meas
)
SELECT doc_id, n_words, sum_len, n_symbols, n_stopwords,
       CAST(reasons AS BIGINT) AS reasons, reasons = 0 AS keep
FROM r
"""


def wet_export_sql() -> str:
    """Round-trip oracle for wet_export: builds each WARC chunk DIRECTLY
    (string_agg ordered by doc_id) and digests it — never splits or
    re-exports, so a matching md5 proves warc_split -> wet_export is
    byte-lossless."""
    return f"""
WITH {_WARC_BLOBS_CTE}
SELECT blob_id, CAST(n_records AS BIGINT) AS n_records,
       CAST(length(payload) AS BIGINT) AS payload_chars,
       md5(payload) AS payload_md5
FROM blob
"""


def url_templates_sql() -> str:
    """URL path-template mining over the three planted generators."""
    return """
WITH p AS (SELECT doc_id, doc_id // 3 AS gid FROM documents),
u AS (
  SELECT doc_id,
    'https://' || printf('host%02d.example', gid % 20)
    || CASE WHEN doc_id % 3 = 0 THEN printf('/doc/%d', doc_id)
            WHEN doc_id % 3 = 1
              THEN printf('/cat/%d/item/%d?ref=promo', gid % 10, doc_id)
            ELSE '/page/about' END AS url
  FROM p
),
parsed AS (
  SELECT url,
         regexp_extract(url, '^https?://([^/]+)', 1) AS host,
         regexp_replace(
           regexp_extract(url, '^https?://[^/]+(/[^?#]*)', 1),
           '/+$', '') AS path
  FROM u
),
tpl AS (
  SELECT host, url,
         array_to_string(
           list_transform(string_split(path, '/'),
             s -> CASE WHEN regexp_matches(s, '^[0-9]+$')
                       THEN '{n}' ELSE s END),
           '/') AS template
  FROM parsed
)
SELECT host, template,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(count(DISTINCT url) AS BIGINT) AS n_urls
FROM tpl GROUP BY 1, 2
"""


def stream_outlinks_sql() -> str:
    """Per-host distinct-target fan-out off the shared outlink CTEs — the
    batch truth the drained streaming edge set must reproduce exactly
    (state = one row per distinct edge, so the rollup is an exact count,
    no estimator anywhere)."""
    return f"""
WITH {_OUTLINKS_CTES}
SELECT src_host,
       CAST(count(DISTINCT dst_url) AS BIGINT) AS n_targets
FROM links GROUP BY 1
"""


def site_clusters_sql() -> str:
    """Undirected components of the deterministic host permutation graph
    (h -> (7h+4) mod 96) via recursive-CTE closure + size rollup."""
    return f"""
WITH RECURSIVE e AS (
  SELECT DISTINCT ((doc_id // 3) % 100) AS src,
         (((doc_id // 3) % 100) * 7 + 4) % 96 AS dst
  FROM documents WHERE ((doc_id // 3) % 100) < 96
),
{_components_cte("e", "src", "dst")}
SELECT CAST(component AS BIGINT) AS component,
       CAST(count(*) AS BIGINT) AS n_hosts
FROM comp GROUP BY 1
"""


def robots_parse_sql() -> str:
    """RFC 9309 grouping via the INDEPENDENT gaps-and-islands formulation:
    agent-run id = rn - row_number-among-agents (constant per consecutive
    run), each rule binds to the max preceding island — vs the engine's
    boundary-count windows. Rules before any User-agent line drop out in
    both (no island to bind to)."""
    return """
WITH h AS (SELECT unnest(generate_series(0, 49)) AS hn),
rb AS (
  SELECT printf('host%04d.example', hn) AS host,
    '# robots' || chr(10) || 'User-agent: *' || chr(10)
    || 'Disallow: /private' || chr(10)
    || CASE WHEN hn % 4 = 1 THEN 'Disallow:' || chr(10) ELSE '' END
    || CASE WHEN hn % 3 = 0 THEN 'Allow: /public' || chr(10) ELSE '' END
    || printf('Crawl-delay: %d', hn % 5 + 1) || chr(10) || chr(10)
    || 'User-agent: gptbot' || chr(10) || 'User-agent: ccbot' || chr(10)
    || 'Disallow: /' || chr(10) AS payload
  FROM h
),
sp AS (SELECT host, string_split(payload, chr(10)) AS arr FROM rb),
lines AS (
  SELECT host, i - 1 AS line_no,
         trim(regexp_replace(arr[i], '#.*$', '')) AS ln
  FROM sp, unnest(generate_series(1, len(arr))) AS t(i)
),
typed AS (
  SELECT host, line_no,
    CASE WHEN lower(ln) LIKE 'user-agent:%' THEN 'agent'
         WHEN lower(ln) LIKE 'disallow:%' THEN 'disallow'
         WHEN lower(ln) LIKE 'allow:%' THEN 'allow'
         WHEN lower(ln) LIKE 'crawl-delay:%' THEN 'crawl-delay' END AS kind,
    trim(regexp_extract(ln, '^[^:]+:(.*)$', 1)) AS value
  FROM lines WHERE ln <> ''
),
t2 AS (
  SELECT host, line_no, kind, value,
         row_number() OVER (PARTITION BY host ORDER BY line_no) AS rn
  FROM typed WHERE kind IS NOT NULL
),
ag AS (
  SELECT host, rn, value,
         rn - row_number() OVER (PARTITION BY host ORDER BY rn) AS island
  FROM t2 WHERE kind = 'agent'
),
ru AS (
  SELECT * FROM t2
  WHERE kind <> 'agent' AND (kind = 'crawl-delay' OR value <> '')
)
SELECT ru.host, ag.value AS agent, ru.kind AS rule_type, ru.value,
       CAST(ru.line_no AS BIGINT) AS line_no
FROM ru JOIN ag ON ru.host = ag.host AND ag.rn < ru.rn
WHERE ag.island = (
  SELECT max(a2.island) FROM ag a2
  WHERE a2.host = ru.host AND a2.rn < ru.rn
)
"""


def token_budget_sql(budget: int = 1_000_000) -> str:
    """Largest-remainder apportionment via the single-window independent
    formulation (the engine distributes the rank two-phase); exact
    integer quotas, sum(alloc) == budget by construction."""
    return f"""
WITH w AS (
  SELECT {_DOC_HOST} AS host,
         sum(len(string_split(text, ' '))) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT sum(n_tokens) AS wt FROM w),
j AS (
  SELECT host, n_tokens,
         {budget} * n_tokens // wt AS base_quota,
         ({budget} * n_tokens) % wt AS rem
  FROM w CROSS JOIN t
),
lo AS (SELECT {budget} - sum(base_quota) AS leftover FROM j),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, host) AS rnk FROM j
)
SELECT host, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(base_quota AS BIGINT) AS base_quota,
       CAST(rem AS BIGINT) AS rem,
       CAST(CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
       CAST(base_quota + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM r CROSS JOIN lo
"""


def domain_lang_sql() -> str:
    """Per-domain language rollup over the shared langid oracle (nested
    as a subquery CTE) — modal language via the independent row_number
    formulation of the engine's min_by struct ordering."""
    return f"""
WITH lid AS ({text_langid_sql()}),
per AS (
  SELECT {_DOC_HOST} AS host,
         pred_lang, count(*) AS cnt
  FROM lid GROUP BY 1, 2
),
rk AS (
  SELECT host, pred_lang, cnt,
         row_number() OVER (PARTITION BY host
                            ORDER BY cnt DESC, pred_lang) AS rn
  FROM per
),
agg AS (
  SELECT host, CAST(sum(cnt) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_langs
  FROM per GROUP BY 1
)
SELECT a.host, a.n_docs, a.n_langs, r.pred_lang AS top_lang
FROM agg a JOIN rk r ON a.host = r.host AND r.rn = 1
"""


def dedup_incremental_sql() -> str:
    """Cross-snapshot incremental dedup: NOT IN the old hash set + first-
    seen argmin within the new batch."""
    return """
WITH olds AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 != 7
),
news AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 != 3
),
nh AS (SELECT md5(text) AS text_hash, doc_id FROM news),
fresh AS (
  SELECT * FROM nh WHERE text_hash NOT IN (SELECT h FROM olds)
)
SELECT text_hash, CAST(min(doc_id) AS BIGINT) AS first_doc_id
FROM fresh GROUP BY 1
"""


def ahash_sql() -> str:
    """Average-hash recomputed from the text CHARACTERS (ord == byte for
    the ascii corpus) — block boundaries j*n//64, block-vs-global mean by
    integer cross-multiplication, bits packed into two 32-bit halves; an
    independent per-(doc, block) lateral formulation of the engine's
    Arrow prefix-sum pass."""
    return """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         CAST(list_sum(list_transform(range(1, length(text) + 1),
                                      i -> ord(substr(text, i, 1))))
              AS BIGINT) AS total
  FROM documents
),
b AS (
  SELECT doc_id, text, n, total, j,
         (j * n) // 64 AS lo, ((j + 1) * n) // 64 AS hi
  FROM d, unnest(range(64)) AS t(j)
),
s AS (
  SELECT doc_id, n, j,
         CASE WHEN hi > lo THEN
           CAST(list_sum(list_transform(range(lo + 1, hi + 1),
                                        i -> ord(substr(text, i, 1))))
                AS BIGINT) * n > total * (hi - lo)
         ELSE FALSE END AS bit
  FROM b
)
SELECT doc_id, CAST(max(n) AS INT) AS n_bytes,
       CAST(sum(CASE WHEN bit AND j >= 32
                     THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
            AS BIGINT) AS ahash_hi,
       CAST(sum(CASE WHEN bit AND j < 32
                     THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
            AS BIGINT) AS ahash_lo
FROM s GROUP BY 1
"""


def bigram_lm_sql(k: int = 3) -> str:
    """Bigram conditional-probability table: positional pairs, the
    first-token marginal from the bigram table, integer ppm."""
    return f"""
WITH t AS (
  SELECT string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
p AS (
  SELECT w[i + 1] AS token, w[i + 2] AS next_token
  FROM t, unnest(range(len(w) - 1)) AS x(i)
),
bg AS (SELECT token, next_token, count(*) AS cnt FROM p GROUP BY 1, 2),
f AS (SELECT token, sum(cnt) AS first_cnt FROM bg GROUP BY 1),
r AS (
  SELECT bg.token, next_token, cnt, first_cnt,
         row_number() OVER (PARTITION BY bg.token
                            ORDER BY cnt DESC, next_token) AS rnk
  FROM bg JOIN f USING (token)
)
SELECT token, CAST(rnk AS INT) AS rnk, next_token,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000000 // first_cnt AS BIGINT) AS cond_ppm
FROM r WHERE rnk <= {k}
"""


def domain_reputation_sql() -> str:
    """Composite of the three already-verified link/curation oracles:
    PageRank + HITS nested as subquery CTEs, the crawl canonical-URL
    dup rate, and the exact-integer reputation formula."""
    return f"""
WITH pr AS ({domain_rank_sql()}),
hh AS ({hits_sql()}),
{_CRAWL_CANON_CTES.lstrip()},
{_HOST_DUP_CTE}
SELECT pr.host, pr.rank_micro, hh.auth_micro, hh.hub_micro,
       CAST(coalesce(dup.dup_ppm, 0) AS BIGINT) AS dup_ppm,
       CAST((5 * pr.rank_micro + 3 * hh.auth_micro + 2 * hh.hub_micro)
            // 10 - coalesce(dup.dup_ppm, 0) // 10 AS BIGINT)
         AS reputation_micro
FROM pr JOIN hh ON pr.host = hh.host
LEFT JOIN agg dup ON pr.host = dup.host
"""


def geo_regions_sql() -> str:
    """Pages per polygon region with the host dim as the point set: the
    shared pts CTE re-sourced to DISTINCT host ids, pure ray-cast parity
    (no interior short-circuit — the independent formulation), page
    counts joined per host."""
    host_pts = _pts_cte().replace(
        "FROM documents",
        "FROM (SELECT DISTINCT (doc_id // 3) % 100 AS doc_id"
        " FROM documents)",
    )
    return f"""
WITH {host_pts}, {_edges_cte()}, {_admin_cte()},
hits AS ({_pip("pts", "doc_id")}),
pg AS (
  SELECT (doc_id // 3) % 100 AS h, count(*) AS n_pages
  FROM documents GROUP BY 1
)
SELECT h.polygon_id, a.admin_level,
       CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_hosts,
       CAST(sum(p.n_pages) AS BIGINT) AS n_pages
FROM hits h JOIN admin a USING (polygon_id) JOIN pg p ON p.h = h.doc_id
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# r4 wave 3: k-means / SemDeDup / DSIR / quadkey / overlay / trajectory /
# snapshot drift
# ---------------------------------------------------------------------------

def _kmeans_cte(k: int = 8, iters: int = 2, dim: int = 64) -> tuple[str, str]:
    """CTE chain unrolling ``cluster._fit``'s Lloyd iterations:
    assignment a{i} against centroids c{i} (exact int64 distances via
    DOUBLE dots of ×1000-quantized vectors — integral and < 2^53, so
    exact; argmin packed as dist*100+cluster), update c{i+1} by
    per-dimension truncated division (DuckDB ``//`` == the engine's
    toward-zero division), empty clusters keeping the previous centroid.
    Returns (cte_body, final_assignment_name)."""
    parts = [
        _QUANT_CTE.strip(),
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, qv AS cv
  FROM (SELECT vec_id, qv FROM q ORDER BY vec_id LIMIT {k})
)""",
    ]
    for i in range(iters + 1):
        parts.append(f"""a{i} AS (
  SELECT vec_id,
         min(CAST({_D2.format(a="qv", b="cv")} AS BIGINT) * 100 + cluster) AS m
  FROM q CROSS JOIN c{i}
  GROUP BY vec_id
)""")
        if i < iters:
            parts.append(f"""s{i} AS (
  SELECT a.m % 100 AS cluster, g.d AS d, sum(q.qv[g.d]) AS s, count(*) AS n
  FROM a{i} a JOIN q USING (vec_id)
  CROSS JOIN generate_series(1, {dim}) AS g(d)
  GROUP BY 1, 2
)""")
            parts.append(f"""c{i + 1} AS (
  SELECT c.cluster, coalesce(u.cv, c.cv) AS cv
  FROM c{i} c LEFT JOIN (
    SELECT cluster, list(CAST(s // n AS BIGINT) ORDER BY d) AS cv
    FROM s{i} GROUP BY cluster
  ) u USING (cluster)
)""")
    return ",\n".join(parts), f"a{iters}"


def emb_kmeans_sql(k: int = 8, iters: int = 2) -> str:
    cte, final = _kmeans_cte(k=k, iters=iters)
    return f"""
WITH {cte}
SELECT vec_id, CAST(m % 100 AS BIGINT) AS cluster, CAST(m // 100 AS BIGINT) AS dist_q
FROM {final}
"""


def dedup_semantic_sql(k: int = 8, iters: int = 2, threshold: float = 0.4) -> str:
    cte, final = _kmeans_cte(k=k, iters=iters)
    return f"""
WITH {cte},
asg AS (SELECT vec_id, CAST(m % 100 AS BIGINT) AS cluster FROM {final}),
qna AS (SELECT qn.*, asg.cluster FROM qn JOIN asg USING (vec_id))
{_near_dups("FROM qna a JOIN qna bb ON a.cluster = bb.cluster AND a.vec_id < bb.vec_id",
            threshold, ", a.cluster AS cluster")}"""


def text_dsir_weights_sql(target_lang: str = "en", buckets: int = 1024) -> str:
    """Same md5-28-bit bucket hash and bit-length log2 proxy as
    ``curation.dsir_weights`` — every value exact BIGINT."""
    return f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(w[i + 1] || ' ' || w[i + 2]), 1, 7))::BIGINT % {buckets} AS b
  FROM toks, unnest(range(len(w) - 1)) AS t(i)
  WHERE len(w) >= 2
),
raw AS (SELECT b, count(*) AS rc FROM bg GROUP BY 1),
tgt AS (SELECT b, count(*) AS tc FROM bg WHERE lang = '{target_lang}' GROUP BY 1),
llr AS (
  SELECT raw.b AS b,
         CAST(length(bin(coalesce(tc, 0) + 1)) - length(bin(rc + 1)) AS BIGINT) AS l
  FROM raw LEFT JOIN tgt USING (b)
)
SELECT doc_id, count(*) AS n_bigrams, CAST(sum(l) AS BIGINT) AS dsir_score
FROM bg JOIN llr USING (b)
GROUP BY 1
"""


def geo_quadkey_sql() -> str:
    digits = " || ".join(
        f"CAST((gy >> {layers.GRID_RES - i}) % 2 * 2 + (gx >> {layers.GRID_RES - i}) % 2 AS VARCHAR)"
        for i in range(1, layers.GRID_RES + 1)
    )
    return f"""
WITH {_pts0_only()}
SELECT doc_id, qk AS quadkey, substr(qk, 1, 4) AS qk4
FROM (SELECT doc_id, {digits} AS qk FROM pts0)
"""


def geo_rect_overlay_sql() -> str:
    """Plain quadratic greatest/least intersection — the engine's cover-cell
    PBSM join must emit exactly this pair set (each pair once)."""
    return f"""
WITH {_pts0_only()},
parcels AS (
  SELECT doc_id, gx AS ax0, gy AS ay0,
         least(gx + {layers.PARCEL_W_SQL}, {layers.GRID_N}) AS ax1,
         least(gy + {layers.PARCEL_H_SQL}, {layers.GRID_N}) AS ay1
  FROM pts0
),
zones AS (SELECT * FROM {layers.zone_rects_sql_values()} AS z(zone_id, bx0, by0, bx1, by1))
SELECT doc_id, zone_id,
       greatest(ax0, bx0) AS ix0, greatest(ay0, by0) AS iy0,
       least(ax1, bx1) AS ix1, least(ay1, by1) AS iy1,
       CAST((least(ax1, bx1) - greatest(ax0, bx0))
            * (least(ay1, by1) - greatest(ay0, by0)) AS BIGINT) AS area
FROM parcels CROSS JOIN zones
WHERE least(ax1, bx1) > greatest(ax0, bx0)
  AND least(ay1, by1) > greatest(ay0, by0)
"""


def events_trajectory_sql() -> str:
    return f"""
WITH {_event_points_cte()},
st AS (
  SELECT user_id,
         abs(ex - lag(ex) OVER w) + abs(ey - lag(ey) OVER w) AS step
  FROM ev {_TRACK}
)
SELECT user_id, count(*) AS n_points,
       CAST(coalesce(sum(step), 0) AS BIGINT) AS path_len,
       CAST(sum(CASE WHEN step <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_stops,
       CAST(coalesce(max(step), 0) AS BIGINT) AS max_step
FROM st GROUP BY 1
"""


def webtext_snapshot_drift_sql() -> str:
    return """
WITH tk AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok, doc_id % 2 AS snap
  FROM documents
),
cnt AS (
  SELECT lang, tok,
         sum(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS c1
  FROM tk WHERE tok <> ''
  GROUP BY 1, 2
),
tot AS (SELECT lang, sum(c0) AS t0, sum(c1) AS t1 FROM cnt GROUP BY 1)
SELECT lang,
       CAST(sum(abs(c0 * 1000000 // t0 - c1 * 1000000 // t1)) AS BIGINT) AS l1_drift_ppm,
       count(*) AS n_tokens_vocab
FROM cnt JOIN tot USING (lang)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r4 wave 4: label-propagation communities / BPE application / novelty /
# exact length quantiles
# ---------------------------------------------------------------------------

def webtext_communities_sql(iterations: int = 3) -> str:
    """Synchronous LPA unrolled: same md5-28-bit init labels, same packed
    modal argmax (cnt * 2^29 + (2^28-1 - label), max), same
    isolated-node coalesce as linkgraph.label_propagation."""
    head = f"""
WITH {_host_edges_cte("e")},
und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
l0 AS (
  SELECT host, ('0x' || substr(md5(host), 1, 7))::BIGINT AS lbl
  FROM {_host_nodes()}
)"""
    return _rounds(head, iterations, lambda k: f"""
c{k} AS (
  SELECT u.dst AS host, l.lbl AS lbl, count(*) AS cnt
  FROM und u JOIN l{k - 1} l ON u.src = l.host
  GROUP BY 1, 2
),
m{k} AS (
  SELECT host,
         268435455 - (max(cnt * 536870912 + (268435455 - lbl)) % 536870912) AS lbl
  FROM c{k} GROUP BY 1
),
l{k} AS (
  SELECT p.host, coalesce(m.lbl, p.lbl) AS lbl
  FROM l{k - 1} p LEFT JOIN m{k} m USING (host)
)""", f"SELECT host, CAST(lbl AS BIGINT) AS community FROM l{iterations}")


def webtext_kcore_sql(k: int = 3, rounds: int = 4) -> str:
    """Mirror of linkgraph.kcore over the shared host-edge fixture: same
    simple undirected view, same synchronous peeling unrolled ``rounds``
    layers, same final induced-subgraph degree."""
    head = f"""
WITH {_host_edges_cte("e")},
s AS (SELECT src, dst FROM e WHERE src <> dst),
und AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM s UNION ALL SELECT dst AS src, src AS dst FROM s
  )
),
a0 AS (SELECT DISTINCT src AS host FROM und)"""

    def degree(r: int) -> str:
        """Each host's degree in the subgraph induced by a{r}."""
        return f"""SELECT u.src AS host, count(*) AS degree
  FROM und u
  JOIN a{r} x ON u.src = x.host
  JOIN a{r} y ON u.dst = y.host
  GROUP BY 1"""
    return _rounds(head, rounds, lambda r: f"""
d{r} AS ({degree(r - 1)}),
a{r} AS (SELECT host FROM d{r} WHERE degree >= {k})""",
                   f"SELECT host, CAST(degree AS BIGINT) AS degree FROM ({degree(rounds)})")


def dedup_split_leakage_sql(
    threshold_ppm: int = 500_000, val_pct: int = 10, n_hosts: int = 100
) -> str:
    """Mirror of dedup.split_leakage_audit: same inverted-index pair
    population (integer-ppm Jaccard cut), same md5-uniform split hashes
    (the _uniform_col formula: first 7 hex chars of md5(salt || key)),
    same crawl-host fixture key."""
    thr = (16 ** 7 * val_pct) // 100
    return f"""
WITH {_OVERLAP_CTE},
nd AS (SELECT doc_id_a, doc_id_b FROM ovn WHERE {_JACCARD_PPM} >= {threshold_ppm}),
fl AS (
  SELECT
    CASE WHEN (('0x' || substr(md5('split:' || CAST(doc_id_a AS VARCHAR)), 1, 7))::BIGINT < {thr})
          <> (('0x' || substr(md5('split:' || CAST(doc_id_b AS VARCHAR)), 1, 7))::BIGINT < {thr})
         THEN 1 ELSE 0 END AS sd,
    CASE WHEN (('0x' || substr(md5('hsplit:' || CAST((doc_id_a // 3) % {n_hosts} AS VARCHAR)), 1, 7))::BIGINT < {thr})
          <> (('0x' || substr(md5('hsplit:' || CAST((doc_id_b // 3) % {n_hosts} AS VARCHAR)), 1, 7))::BIGINT < {thr})
         THEN 1 ELSE 0 END AS sh
  FROM nd
),
t AS (
  SELECT count(*) AS n_dup_pairs,
         coalesce(sum(sd), 0) AS s_doc,
         coalesce(sum(sh), 0) AS s_host
  FROM fl
)
SELECT 'doc_hash' AS policy, CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs,
       CAST(s_doc AS BIGINT) AS n_straddling_pairs FROM t
UNION ALL
SELECT 'host_group', CAST(n_dup_pairs AS BIGINT),
       CAST(s_host AS BIGINT) FROM t
"""


def webtext_crawl_depth_sql(rounds: int = 4) -> str:
    """Mirror of linkgraph.bfs_depth over the shared host-edge fixture:
    same directed deduped edge view, same seed list (every 10th host),
    same synchronous min-relax rounds unrolled as CTE layers."""
    head = f"""
WITH {_host_edges_cte("e")},
ed AS (SELECT DISTINCT src, dst FROM e),
d0 AS (SELECT host, 0 AS depth FROM {_host_nodes()} WHERE i % 10 = 0)"""
    return _min_relax_sql(head, rounds, "depth", "1")


def webtext_cocitation_sql(min_common: int = 2) -> str:
    """Mirror of linkgraph.cocitation over the shared host-edge fixture:
    deduped edges, shared-dst self-join with src< ordering, out-degree
    joins, integer cosine-squared ppm."""
    return f"""
WITH {_host_edges_cte("e")},
ed AS (SELECT DISTINCT src, dst FROM e),
deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
pairs AS (
  SELECT a.src AS host_a, b.src AS host_b, count(*) AS common
  FROM ed a JOIN ed b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
  HAVING count(*) >= {min_common}
)
SELECT host_a, host_b, CAST(common AS BIGINT) AS common,
  CAST(common * common * 1000000 // (da.deg * db.deg) AS BIGINT)
    AS cocite_ppm
FROM pairs
JOIN deg da ON da.src = host_a
JOIN deg db ON db.src = host_b
"""


def webtext_bowtie_sql(rounds: int = 8) -> str:
    """Mirror of linkgraph.bowtie over the bowtie-structured edge fixture
    (queries._bowtie_edges): same deduped directed edges, forward and
    backward reach sets unrolled the same ``rounds`` layers from the
    pivot host0025.example, same 4-class CASE."""
    head = """
WITH e AS (
  SELECT printf('host%04d.example', doc_id % 100) AS src,
         printf('host%04d.example',
           CASE WHEN doc_id % 100 < 25 THEN 25 + (doc_id * 7) % 45
                WHEN doc_id % 100 < 70 THEN 25 + (doc_id % 100 - 25 + 1) % 45
                WHEN doc_id % 100 < 90 THEN 70 + (doc_id * 3) % 20
                ELSE 90 + (doc_id * 3) % 10 END) AS dst
  FROM documents
  UNION ALL
  SELECT printf('host%04d.example', doc_id % 100) AS src,
         printf('host%04d.example',
           CASE WHEN doc_id % 100 < 25 THEN (doc_id * 11) % 25
                WHEN doc_id % 100 < 70 THEN
                  CASE WHEN doc_id % 3 = 0 THEN 70 + doc_id % 20
                       ELSE 25 + (doc_id * 11) % 45 END
                WHEN doc_id % 100 < 90 THEN 70 + (doc_id * 7) % 20
                ELSE 90 + (doc_id * 7) % 10 END) AS dst
  FROM documents
),
ed AS (SELECT DISTINCT src, dst FROM e),
rv AS (SELECT dst AS src, src AS dst FROM ed),
f0 AS (SELECT 'host0025.example' AS host),
b0 AS (SELECT 'host0025.example' AS host)"""
    return _rounds(head, rounds, lambda r: ",".join(f"""
{pre}{r} AS (
  SELECT DISTINCT host FROM (
    SELECT host FROM {pre}{r - 1}
    UNION ALL
    SELECT {tbl}.dst AS host
    FROM {pre}{r - 1} p JOIN {tbl} ON p.host = {tbl}.src
  )
)""" for pre, tbl in (("f", "ed"), ("b", "rv"))), f"""SELECT n.host,
  CASE WHEN f.host IS NOT NULL AND b.host IS NOT NULL THEN 'core'
       WHEN b.host IS NOT NULL THEN 'in'
       WHEN f.host IS NOT NULL THEN 'out'
       ELSE 'other' END AS cls
FROM {_host_nodes()} n
LEFT JOIN f{rounds} f ON n.host = f.host
LEFT JOIN b{rounds} b ON n.host = b.host
""")


def text_bpe_apply_sql(merges: int = 8) -> str:
    """bpe_train's unrolled rounds re-learn the merge table, then the
    corpus token table runs through the same replace chain, one CTE layer
    per rule."""
    head = f"""{_BPE_WORDS},
t0 AS (
  SELECT doc_id, {_bpe_enc("tok")} AS enc,
         length(replace(replace(tok, chr(1), ''), chr(2), '')) AS nc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
)"""
    return _rounds(head, merges, lambda k: _bpe_round(k) + f""",
t{k} AS (
  SELECT t.doc_id, {_bpe_merge("t.enc")} AS enc, t.nc
  FROM t{k - 1} t CROSS JOIN b{k} b
)""", f"""SELECT doc_id, count(*) AS n_words,
       CAST(sum(length(enc) - length(replace(enc, chr(1), ''))) AS BIGINT) AS n_tokens,
       CAST(sum(nc) AS BIGINT) AS n_chars
FROM t{merges} GROUP BY 1""")


def text_novelty_sql() -> str:
    return f"""
WITH {_SHINGLES_CTE},
first AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY 1)
SELECT sh.doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN fd = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN fd = sh.doc_id THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN first USING (shingle)
GROUP BY 1
"""


def text_length_quantiles_sql() -> str:
    picks = ", ".join(
        f"CAST(max(CASE WHEN rn = ({q} * n + 99) // 100 THEN n_chars END) AS BIGINT) AS p{q}_chars"
        for q in (50, 90, 99)
    )
    return f"""
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, count(*) AS n_docs, {picks}
FROM r GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r4 wave 5: trajectory rasterization + tile spatial autocorrelation
# ---------------------------------------------------------------------------

def geo_route_cells_sql() -> str:
    """Same exact-integer DDA as the engine, over every consecutive-ping
    hop (see ``_route_points_cte``)."""
    cell = cells.morton_sql("(xt >> 5)", "(yt >> 5)", 5)
    return f"""
WITH {_event_points_cte()}, {_route_points_cte()}
SELECT DISTINCT user_id, CAST({cell} AS BIGINT) AS cell_id FROM pts
"""


def geo_tile_autocorr_sql() -> str:
    return f"""
WITH {_pts0_only()},
c AS (
  SELECT gx >> 5 AS tx, gy >> 5 AS ty, count(*) AS n
  FROM pts0 GROUP BY 1, 2
),
offsets AS (
  SELECT * FROM (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), (0,1), (1,-1), (1,0), (1,1))
    AS o(dx, dy)
),
shifted AS (
  SELECT c.tx + o.dx AS tx, c.ty + o.dy AS ty, o.dx, o.dy, c.n AS n_nbr
  FROM c CROSS JOIN offsets o
)
SELECT CAST(s.dx AS BIGINT) AS dx, CAST(s.dy AS BIGINT) AS dy, count(*) AS n_pairs,
       CAST(sum(c.n * s.n_nbr) AS BIGINT) AS sum_prod
FROM c JOIN shifted s USING (tx, ty)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# r4 wave 6: funnel / retention / incremental rollup maintenance
# ---------------------------------------------------------------------------

def events_funnel_sql() -> str:
    return """
WITH tv AS (
  SELECT user_id, min(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY 1
),
tc AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN tv USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > tv.t_view
  GROUP BY 1
),
tp AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN tc USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
  GROUP BY 1
),
base AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
SELECT base.user_id, n_events,
       CAST(CASE WHEN tp.t_purchase IS NOT NULL THEN 3
                 WHEN tc.t_click IS NOT NULL THEN 2
                 WHEN tv.t_view IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS stage
FROM base
LEFT JOIN tv USING (user_id)
LEFT JOIN tc USING (user_id)
LEFT JOIN tp USING (user_id)
"""


def events_retention_sql() -> str:
    return """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events
),
cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
SELECT cohort_day, offset_days, count(*) AS n_users
FROM (
  SELECT DISTINCT ev.user_id, cohort_day, day - cohort_day AS offset_days
  FROM ev JOIN cohort USING (user_id)
)
GROUP BY 1, 2
"""


def geo_tiles_incremental_sql() -> str:
    """FULL single-pass recompute — equality proves the engine's
    base+delta merge lossless."""
    cell = cells.morton_sql("(gx >> 3)", "(gy >> 3)", 7)
    return f"""
WITH {_pts0_only()}
SELECT CAST({cell} AS BIGINT) AS cell_id, count(*) AS n_docs
FROM pts0 GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r4 wave 7: grid-DBSCAN spatial clustering + triangle counting
# ---------------------------------------------------------------------------

def geo_grid_dbscan_sql(minpts: int = 2) -> str:
    """Core res-5 cells + 8-neighbor adjacency, recursive-CTE closure,
    cluster = min reachable Morton cell id (same semantics as the engine's
    connected_components)."""
    cell = cells.morton_sql("tx", "ty", 5)
    return f"""
WITH RECURSIVE {_pts0_only()},
core AS (
  SELECT gx >> 5 AS tx, gy >> 5 AS ty, count(*) AS n_docs
  FROM pts0 GROUP BY 1, 2
  HAVING count(*) >= {minpts}
),
cid AS (SELECT tx, ty, CAST({cell} AS BIGINT) AS cell_id, n_docs FROM core),
adj AS (
  SELECT a.cell_id AS src, b.cell_id AS dst
  FROM cid a JOIN cid b
    ON abs(a.tx - b.tx) <= 1 AND abs(a.ty - b.ty) <= 1
   AND (a.tx <> b.tx OR a.ty <> b.ty)
),
{_components_cte("adj", "src", "dst")}
SELECT cid.cell_id, coalesce(c.component, cid.cell_id) AS cluster, cid.n_docs
FROM cid LEFT JOIN comp c ON c.node = cid.cell_id
"""


def webtext_triangles_sql() -> str:
    return f"""
WITH {_host_edges_cte("raw")},
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT host, count(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS host FROM tri)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r4 wave 8: region centroids / daily anomaly / minhash calibration
# ---------------------------------------------------------------------------

def geo_region_centroids_sql() -> str:
    return f"""
WITH {_pts_cte()}, {_edges_cte()},
hits AS ({_pip("pts", "doc_id, gx, gy")})
SELECT polygon_id, count(*) AS n_docs,
       CAST(sum(gx) // count(*) AS BIGINT) AS cx_grid,
       CAST(sum(gy) // count(*) AS BIGINT) AS cy_grid
FROM hits GROUP BY 1
"""


def events_anomaly_sql() -> str:
    return """
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(n) AS total, count(*) AS n_days FROM daily GROUP BY 1
)
SELECT event_type, day, n,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
       CAST(abs(n * 1000000 // total - 1000000 // n_days) AS BIGINT) AS dev_ppm
FROM daily JOIN tot USING (event_type)
"""


def dedup_minhash_calibration_sql(threshold_ppm: int = 300_000) -> str:
    """Same salted-md5 64-permutation MinHash and exact integer Jaccard as
    dedup.minhash_md5_calibration."""
    return f"""
WITH {_OVERLAP_CTE},
cand AS (
  SELECT doc_id_a, doc_id_b, CAST({_JACCARD_PPM} AS BIGINT) AS jaccard_ppm
  FROM ovn WHERE {_JACCARD_PPM} >= {threshold_ppm}
),
sig AS (
  SELECT doc_id, i,
         min(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 15))::BIGINT) AS mh
  FROM sh, unnest(range(64)) AS t(i)
  GROUP BY 1, 2
)
SELECT c.doc_id_a, c.doc_id_b, c.jaccard_ppm,
       CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) * 15625 AS BIGINT) AS est_ppm
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_id_a
JOIN sig sb ON sb.doc_id = c.doc_id_b AND sb.i = sa.i
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# r4 wave 9: TPC-H relational depth (q7/q10/q13/q15 shapes)
# ---------------------------------------------------------------------------

def q7_nation_volume_sql() -> str:
    return """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(CAST(round(volume * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
     OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
)
GROUP BY 1, 2, 3
"""


def q10_returned_items_sql() -> str:
    return """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue_e4 DESC, c_custkey ASC
LIMIT 20
"""


def q13_order_distribution_sql() -> str:
    return """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
GROUP BY 1
"""


def q15_top_supplier_sql() -> str:
    return """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS total_revenue_e4
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue_e4
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
"""


# ---------------------------------------------------------------------------
# r4 wave 10: ANN recall@k evaluation
# ---------------------------------------------------------------------------

def ann_recall_eval_sql(
    k: int = 10, every: int = 50, dim: int = 64, n_planes: int = 12,
    max_hamming: int = 1,
) -> str:
    """Ground truth = exact round-6-cosine top-k (id tie-break); LSH arm =
    the identical plane/bucket pipeline as ann_lsh_sql; recall joins the
    two — all arithmetic exact so the ppm value is bit-stable."""
    cand = _lsh_pairs("bb.vec_id <> a.vec_id", max_hamming)
    return f"""
WITH {_QUANT_CTE}, {_lsh_buckets_cte(dim, n_planes)},
lsh AS (
  SELECT query_id, neighbor_id
  FROM ({_cos_topk(k, f"{cand} AND a.vec_id % {every} = 0")})
),
gt AS (
  SELECT query_id, neighbor_id FROM ({_cosine_topk_select(k, every)})
)
SELECT g.query_id, count(*) AS k_eval,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS recall_ppm
FROM gt g LEFT JOIN lsh l USING (query_id, neighbor_id)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r5: remaining TPC-H shapes (completes all 22 query structures)
# ---------------------------------------------------------------------------

def q6_forecast_revenue_sql() -> str:
    return """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) AS BIGINT)
         AS revenue_e4
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q2_min_cost_supplier_sql() -> str:
    return """
WITH pp AS (
  SELECT p_partkey, p_name, p_size FROM part
  WHERE p_type = 'STANDARD' AND p_size <= 10
),
cost AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(round(l_extendedprice / l_quantity * 10000) AS BIGINT)) AS cost_e4
  FROM lineitem JOIN pp ON l_partkey = p_partkey
  GROUP BY 1, 2
),
best AS (
  SELECT l_partkey, l_suppkey, cost_e4,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY cost_e4 ASC, l_suppkey ASC) AS rk
  FROM cost
)
SELECT p_partkey, p_name, p_size, s_suppkey, s_name, cost_e4
FROM best
JOIN pp ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rk = 1
ORDER BY cost_e4 ASC, p_partkey ASC
LIMIT 100
"""


def q8_market_share_sql() -> str:
    return """
WITH asia_cust AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
sn AS (
  SELECT s_suppkey, n_name AS supp_nation FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                     THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS nation_rev_e4,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT)
         AS total_rev_e4,
       CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                     THEN CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
                     ELSE 0 END) * 1000000
            // sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
            AS BIGINT) AS mkt_share_ppm
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
JOIN orders ON l_orderkey = o_orderkey
JOIN sn ON l_suppkey = s_suppkey
WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
  AND o_custkey IN (SELECT c_custkey FROM asia_cust)
GROUP BY 1
"""


def q9_product_profit_sql() -> str:
    return """
SELECT n_name,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)
                - CAST(round(p_retailprice * l_quantity * 10000) AS BIGINT)) AS BIGINT)
         AS profit_e4
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def q11_important_parts_sql() -> str:
    return """
WITH nsupp AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
value AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS BIGINT) AS value_e4
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM nsupp)
  GROUP BY 1
)
SELECT l_partkey, value_e4
FROM value
WHERE value_e4 * 2000 > (SELECT sum(value_e4) FROM value)
ORDER BY value_e4 DESC, l_partkey ASC
"""


def q12_priority_by_status_sql() -> str:
    return """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
GROUP BY 1
"""


def q20_excess_suppliers_sql() -> str:
    return """
WITH qual AS (
  SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ship_qty
  FROM lineitem
  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
  GROUP BY 1
  HAVING sum(CAST(l_quantity AS BIGINT)) > 50
)
SELECT s_suppkey, s_name, n_name, ship_qty
FROM qual
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
ORDER BY ship_qty DESC, s_suppkey ASC
"""


def q21_waiting_supplier_sql() -> str:
    return """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS last_ship
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  GROUP BY 1, 2
),
ranked AS (
  SELECT l_orderkey, l_suppkey,
         count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY last_ship DESC, l_suppkey ASC) AS rk
  FROM per_os
)
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND rk = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey ASC
LIMIT 20
"""


def q22_global_sales_opportunity_sql() -> str:
    return """
WITH cc AS (
  SELECT c_custkey, c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_e2, c_acctbal
  FROM customer WHERE c_nationkey < 7
),
thr AS (
  SELECT CAST(sum(bal_e2) // count(*) AS BIGINT) AS avg_e2
  FROM cc WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(sum(bal_e2) AS BIGINT) AS totacctbal_e2
FROM cc, thr
WHERE bal_e2 > avg_e2
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderdate >= '2000-01-01')
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# r5 wave: exact vector geometry — segment crossings, hull diameter,
# tile pyramid, geohash encode. The crossing/diameter oracles are the
# deliberate brute-force twins (quadratic cross join / quadratic max-pair)
# of the engine's filter-refine and hull-based plans.
# ---------------------------------------------------------------------------

def geo_segment_join_sql() -> str:
    """Quadratic oracle: every trajectory hop x every transit line, the SAME
    exact four-determinant predicate text (geometry.seg_intersect_pred_sql)
    the engine refines with — no cover-cell prefilter, so any filter-phase
    miss in the engine shows up as a row diff."""
    d = geometry.seg_cross_exprs()
    det = ",\n         ".join(f"{v} AS {k}" for k, v in d.items())
    return f"""
WITH {_event_points_cte()},
seg AS (
  SELECT user_id, event_id AS seg_id,
         lag(ex) OVER w AS ax0, lag(ey) OVER w AS ay0,
         ex AS ax1, ey AS ay1
  FROM ev {_TRACK}
),
probes AS (
  SELECT * FROM seg
  WHERE ax0 IS NOT NULL AND greatest(abs(ax1 - ax0), abs(ay1 - ay0)) <= 128
),
{_LINES_CTE},
pairs AS (
  SELECT probes.*, lines.*,
         {det}
  FROM probes CROSS JOIN lines
)
SELECT DISTINCT user_id, seg_id, line_id
FROM pairs
WHERE {geometry.seg_intersect_pred_sql()}
"""


def geo_tile_diameter_sql() -> str:
    """Quadratic oracle for the per-tile diameter: max squared pairwise
    distance over DISTINCT point locations via tile-local self-join — vs
    the engine's O(n log n + h^2) hull path."""
    return f"""
WITH {_pts0_only()},
d AS (
  SELECT DISTINCT gx >> 5 AS tx, gy >> 5 AS ty, gx, gy FROM pts0
),
cnt AS (
  SELECT tx, ty, CAST(count(*) AS BIGINT) AS n_pts FROM d GROUP BY 1, 2
),
diam AS (
  SELECT a.tx AS tx, a.ty AS ty,
         CAST(max((a.gx - b.gx) * (a.gx - b.gx)
                  + (a.gy - b.gy) * (a.gy - b.gy)) AS BIGINT) AS diam_sq
  FROM d a JOIN d b USING (tx, ty)
  GROUP BY 1, 2
)
SELECT cnt.tx, cnt.ty, n_pts, diam_sq
FROM cnt JOIN diam USING (tx, ty)
"""


def geo_tile_pyramid_sql() -> str:
    res = layers.GRID_RES
    return f"""
WITH {_pts0_only()},
base AS (
  SELECT {cells.morton_sql("gx", "gy", res)} AS c10, count(*) AS n
  FROM pts0 GROUP BY 1
),
lv AS (
  SELECT CAST(r AS BIGINT) AS res,
         c10 >> (2 * ({res} - r)) AS cell_id,
         n
  FROM base, unnest(generate_series(0, {res})) AS g(r)
)
SELECT res, CAST(cell_id AS BIGINT) AS cell_id, CAST(sum(n) AS BIGINT) AS n_docs
FROM lv GROUP BY 1, 2
"""


def geo_geohash_sql() -> str:
    chars = ", ".join(cells.geohash_char_sql("g", k) for k in range(4))
    return f"""
WITH {_pts0_only()},
gm AS (
  SELECT doc_id, {cells.morton_sql("gy", "gx", layers.GRID_RES)} AS g FROM pts0
),
enc AS (
  SELECT doc_id, concat({chars}) AS gh4 FROM gm
)
SELECT doc_id, gh4, substr(gh4, 1, 3) AS gh3 FROM enc
"""


def _lines_raster_cte() -> str:
    """Shared CTE text: the transit-line dim + its exact-integer DDA
    raster (same truncated-division rule as geo_route_cells_sql)."""
    return f"""
{_LINES_CTE},
ln AS (
  SELECT *, greatest(abs(bx1 - bx0), abs(by1 - by0), 1) AS L FROM lines
),
raster AS (
  SELECT DISTINCT line_id,
         bx0 + ((bx1 - bx0) * t) // L AS px,
         by0 + ((by1 - by0) * t) // L AS py
  FROM ln, unnest(generate_series(0, L)) AS g(t)
)"""


def geo_map_match_sql() -> str:
    """Every ping x every raster point inside its 16-px radius box, i.e.
    abs(ex - px) <= 16 AND abs(ey - py) <= 16 (a band join, no cell-ring
    prefilter; d2 <= 256 implies the box), same radius cut and packed
    argmin as the engine."""
    return f"""
WITH {_event_points_cte()},
{_lines_raster_cte().lstrip()},
cand AS (
  SELECT ev.user_id, ev.event_id, raster.line_id,
         (ex - px) * (ex - px) + (ey - py) * (ey - py) AS d2
  FROM ev JOIN raster
    ON px BETWEEN ex - 16 AND ex + 16 AND py BETWEEN ey - 16 AND ey + 16
),
best AS (
  SELECT user_id, event_id, min(d2 * 1024 + line_id) AS pack
  FROM cand WHERE d2 <= 256
  GROUP BY 1, 2
)
SELECT user_id, event_id,
       CAST(pack % 1024 AS BIGINT) AS line_id,
       CAST(pack // 1024 AS BIGINT) AS snap_dist_sq
FROM best
"""


def geo_traj_simplify_sql() -> str:
    return f"""
WITH {_event_points_cte()},
t AS (
  SELECT user_id, event_id, ex, ey,
         lag(ex) OVER w AS px, lag(ey) OVER w AS py,
         lead(ex) OVER w AS nx, lead(ey) OVER w AS ny
  FROM ev {_TRACK}
)
SELECT user_id, event_id, ex, ey
FROM t
WHERE px IS NULL OR nx IS NULL
   OR abs((ex - px) * (ny - py) - (ey - py) * (nx - px)) >= {TRAJ_SIMPLIFY_AREA2}
"""


def events_colocation_sql() -> str:
    return f"""
WITH {_event_points_cte()},
uc AS (SELECT DISTINCT user_id, day, ex >> 6 AS cx, ey >> 6 AS cy FROM ev),
small AS (
  SELECT day, cx, cy FROM uc
  GROUP BY 1, 2, 3
  HAVING count(*) <= {COLOC_MAX_USERS_PER_KEY}
),
e AS (SELECT uc.* FROM uc JOIN small USING (day, cx, cy))
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(count(*) AS BIGINT) AS n_meetings
FROM e a JOIN e b USING (day, cx, cy)
WHERE a.user_id < b.user_id
GROUP BY 1, 2
"""


def geo_od_flows_sql() -> str:
    return f"""
WITH {_event_points_cte()},
r AS (
  SELECT user_id, day, ex >> 7 AS tx, ey >> 7 AS ty,
         row_number() OVER (PARTITION BY user_id, day ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, day ORDER BY ts DESC, event_id DESC) AS rd
  FROM ev
),
trips AS (
  SELECT user_id, day,
         max(CASE WHEN rn = 1 THEN tx END) AS otx,
         max(CASE WHEN rn = 1 THEN ty END) AS oty,
         max(CASE WHEN rd = 1 THEN tx END) AS dtx,
         max(CASE WHEN rd = 1 THEN ty END) AS dty
  FROM r WHERE rn = 1 OR rd = 1
  GROUP BY 1, 2
)
SELECT otx, oty, dtx, dty, CAST(count(*) AS BIGINT) AS n_trips
FROM trips GROUP BY 1, 2, 3, 4
"""


def geo_range_count_sql() -> str:
    """Brute-force oracle: count points per rectangle directly (BETWEEN
    on the raw grid coords) — deliberately ignorant of the pyramid and
    the quadtree decomposition the engine uses."""
    return f"""
WITH {_pts0_only()},
rects AS (
  SELECT CAST(j AS BIGINT) AS rect_id,
         least({layers.QRECT_XA_SQL.format(j="j")}, {layers.QRECT_XB_SQL.format(j="j")}) AS x0,
         least({layers.QRECT_YA_SQL.format(j="j")}, {layers.QRECT_YB_SQL.format(j="j")}) AS y0,
         greatest({layers.QRECT_XA_SQL.format(j="j")}, {layers.QRECT_XB_SQL.format(j="j")}) AS x1,
         greatest({layers.QRECT_YA_SQL.format(j="j")}, {layers.QRECT_YB_SQL.format(j="j")}) AS y1
  FROM unnest(generate_series(0, {layers.N_QRECTS - 1})) AS g(j)
)
SELECT rect_id, CAST(count(pts0.gx) AS BIGINT) AS n_docs
FROM rects LEFT JOIN pts0
  ON pts0.gx BETWEEN x0 AND x1 AND pts0.gy BETWEEN y0 AND y1
GROUP BY 1
"""


def events_stay_points_sql() -> str:
    return f"""
WITH {_event_points_cte()}, {_stays_cte()}
SELECT user_id, first_event_id, n_pings, depart_sec - arrive_sec AS dwell_sec, cx, cy
FROM stays
"""


def geo_emerging_hotspots_sql() -> str:
    return f"""
WITH {_event_points_cte()},
counts AS (
  SELECT ex >> {HOTSPOT_SHIFT} AS tx, ey >> {HOTSPOT_SHIFT} AS ty, day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2, 3
),
span AS (SELECT min(day) AS dmin, max(day) AS dmax FROM ev),
tiles AS (SELECT DISTINCT tx, ty FROM counts),
cube AS (
  SELECT t.tx, t.ty, d.day, coalesce(c.cnt, 0) AS cnt
  FROM tiles t
  CROSS JOIN span s
  CROSS JOIN LATERAL (SELECT unnest(range(s.dmin, s.dmax + 1)) AS day) d
  LEFT JOIN counts c ON c.tx = t.tx AND c.ty = t.ty AND c.day = d.day
),
mk AS (
  SELECT a.tx, a.ty,
         CAST(sum(CAST(sign(b.cnt - a.cnt) AS BIGINT)) AS BIGINT) AS s_stat,
         max(b.day) - min(a.day) + 1 AS n_days
  FROM cube a JOIN cube b ON a.tx = b.tx AND a.ty = b.ty AND a.day < b.day
  GROUP BY 1, 2
),
tot AS (SELECT tx, ty, CAST(sum(cnt) AS BIGINT) AS n_pings FROM cube GROUP BY 1, 2)
SELECT mk.tx, mk.ty, mk.s_stat, mk.n_days, tot.n_pings,
       CASE WHEN mk.s_stat > 0 THEN 'emerging'
            WHEN mk.s_stat < 0 THEN 'cooling'
            ELSE 'flat' END AS trend
FROM mk JOIN tot ON mk.tx = tot.tx AND mk.ty = tot.ty
"""


def events_traj_similarity_sql() -> str:
    return f"""
WITH {_event_points_cte()},
cells AS (
  SELECT DISTINCT user_id, ex >> {TRAJSIM_SHIFT} AS cx, ey >> {TRAJSIM_SHIFT} AS cy
  FROM ev
),
sizes AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_cells FROM cells GROUP BY 1),
small AS (
  SELECT cx, cy FROM cells GROUP BY 1, 2
  HAVING count(*) <= {TRAJSIM_MAX_USERS_PER_CELL}
),
e AS (SELECT cells.* FROM cells JOIN small USING (cx, cy)),
shared AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM e a JOIN e b USING (cx, cy)
  WHERE a.user_id <> b.user_id
  GROUP BY 1, 2
  HAVING count(*) >= {TRAJSIM_MIN_SHARED}
),
scored AS (
  SELECT s.user_a, s.user_b, s.n_shared,
         s.n_shared * 1000000 // (sa.n_cells + sb.n_cells - s.n_shared)
           AS jaccard_ppm
  FROM shared s
  JOIN sizes sa ON sa.user_id = s.user_a
  JOIN sizes sb ON sb.user_id = s.user_b
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_a ORDER BY jaccard_ppm DESC, n_shared DESC, user_b
  ) AS rank
  FROM scored
)
SELECT user_a, user_b, n_shared, jaccard_ppm, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TRAJSIM_TOPK}
"""


def events_geofence_dwell_sql() -> str:
    return f"""
WITH {_fences_cte()}, {_event_points_cte()}
SELECT e.user_id, f.fence_id,
       CAST(count(*) AS BIGINT) AS n_pings,
       max(e.sec) - min(e.sec) AS dwell_sec,
       min(e.event_id) AS first_event_id
FROM ev e JOIN fences f ON {_IN_FENCE}
GROUP BY 1, 2
"""


def events_geofence_transitions_sql() -> str:
    return f"""
WITH {_fences_cte()}, {_event_points_cte()},
{_fence_state_cte("e.user_id, e.ts, e.event_id, e.sec")},
lagged AS (SELECT *, lag(state) OVER w AS prev FROM pinged {_TRACK})
SELECT user_id, event_id, sec,
       coalesce(prev, -1) AS from_fence,
       state AS to_fence,
       CASE WHEN state = -1 THEN 'exit'
            WHEN prev IS NULL OR prev = -1 THEN 'enter'
            ELSE 'switch' END AS kind
FROM lagged
WHERE (prev IS NULL AND state <> -1) OR (prev IS NOT NULL AND prev <> state)
"""


def events_traj_outliers_sql() -> str:
    return f"""
WITH {_event_points_cte()},
hops AS (
  SELECT user_id, event_id, sec,
         abs(ex - lag(ex) OVER w) + abs(ey - lag(ey) OVER w) AS dist,
         sec - lag(sec) OVER w AS dt
  FROM ev {_TRACK}
)
SELECT user_id, event_id, sec, dist, dt
FROM hops
WHERE dist IS NOT NULL AND dist * 86400 > {TRAJ_MAX_PX_PER_DAY} * dt
"""


def events_traj_resample_sql() -> str:
    return f"""
WITH {_event_points_cte()},
hops AS (
  SELECT user_id, sec AS s0, ex AS x0, ey AS y0,
         lead(sec) OVER w AS s1, lead(ex) OVER w AS x1, lead(ey) OVER w AS y1
  FROM ev {_TRACK}
),
pts AS (
  SELECT h.user_id, h.s0, h.x0, h.y0, h.s1, h.x1, h.y1,
         k.k * {RESAMPLE_STEP} AS t_sec
  FROM hops h
  CROSS JOIN LATERAL (
    SELECT unnest(range(h.s0 // {RESAMPLE_STEP} + 1,
                        h.s1 // {RESAMPLE_STEP} + 1)) AS k
  ) k
  WHERE h.s1 IS NOT NULL AND h.s1 > h.s0
)
SELECT user_id, t_sec,
       x0 + (x1 - x0) * (t_sec - s0) // (s1 - s0) AS x,
       y0 + (y1 - y0) * (t_sec - s0) // (s1 - s0) AS y
FROM pts
"""


def events_geofence_occupancy_sql() -> str:
    return f"""
WITH {_fences_cte()}, {_event_points_cte()}
SELECT f.fence_id, e.sec // 3600 AS hour,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_pings
FROM ev e JOIN fences f ON {_IN_FENCE}
GROUP BY 1, 2
"""


def events_mobility_profile_sql() -> str:
    return f"""
WITH {_event_points_cte()},
base AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_pings,
         sum(ex) AS sx, sum(ey) AS sy, sum(ex*ex + ey*ey) AS sq,
         min(ex) AS min_x, max(ex) AS max_x,
         min(ey) AS min_y, max(ey) AS max_y
  FROM ev GROUP BY 1
),
cellcnt AS (
  SELECT user_id, ex >> {TRAJSIM_SHIFT} AS cx, ey >> {TRAJSIM_SHIFT} AS cy,
         CAST(count(*) AS BIGINT) AS c
  FROM ev GROUP BY 1, 2, 3
),
cells AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_cells, sum(c*c) AS sc2
  FROM cellcnt GROUP BY 1
)
SELECT b.user_id, b.n_pings, c.n_cells,
       b.min_x, b.max_x, b.min_y, b.max_y,
       CAST(b.n_pings * b.sq - b.sx * b.sx - b.sy * b.sy AS BIGINT) AS rg2_num,
       CAST(c.sc2 * 1000000 // (b.n_pings * b.n_pings) AS BIGINT) AS hhi_ppm
FROM base b JOIN cells c USING (user_id)
"""


def geo_tile_rhythms_sql() -> str:
    return f"""
WITH {_event_points_cte()}
SELECT ex >> {HOTSPOT_SHIFT} AS tx, ey >> {HOTSPOT_SHIFT} AS ty,
       (sec // 86400 + 4) % 7 AS dow,
       (sec % 86400) // 3600 AS hour,
       CAST(count(*) AS BIGINT) AS n_pings
FROM ev GROUP BY 1, 2, 3, 4
"""


def events_trips_sql() -> str:
    return f"""
WITH {_event_points_cte()}, {_stays_cte()},
hop AS (
  SELECT user_id, cx AS from_x, cy AS from_y, depart_sec,
         lead(cx) OVER ws AS to_x, lead(cy) OVER ws AS to_y,
         lead(arrive_sec) OVER ws AS arrive_sec
  FROM stays WINDOW ws AS (PARTITION BY user_id ORDER BY island)
)
SELECT user_id, from_x, from_y, to_x, to_y, depart_sec,
       arrive_sec - depart_sec AS travel_sec
FROM hop WHERE to_x IS NOT NULL
"""


def _stations_cte() -> str:
    return f"""stations AS (
  SELECT i AS sid, (i * 37 + 11) % 1024 AS fx, (i * 73 + 29) % 1024 AS fy,
         (i * 97 + 13) % 1000 AS v
  FROM range(0, {layers.N_GAZ}, {STATION_MOD}) t(i)
)"""


def geo_idw_surface_sql() -> str:
    side = 1 << TRAJSIM_SHIFT
    half = side // 2
    return f"""
WITH {_stations_cte()}, {_event_points_cte()},
cells AS (
  SELECT cx, cy, cx * {side} + {half} AS px, cy * {side} + {half} AS py
  FROM (SELECT DISTINCT ex >> {TRAJSIM_SHIFT} AS cx, ey >> {TRAJSIM_SHIFT} AS cy FROM ev)
),
near AS (
  SELECT * FROM (
    SELECT c.cx, c.cy, s.v, {_sq_dist("c.px", "c.py", "s.fx", "s.fy")} AS d2
    FROM cells c CROSS JOIN stations s
  ) WHERE d2 <= {IDW_R2}
)
SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_stations,
       CAST(sum(v * ({IDW_WSCALE} // greatest(d2, 1)))
            // sum({IDW_WSCALE} // greatest(d2, 1)) AS BIGINT) AS est
FROM near GROUP BY 1, 2
"""


def geo_nearest_facility_sql() -> str:
    return f"""
WITH {_stations_cte()}, {_event_points_cte()},
packed AS (
  SELECT e.event_id,
         min(({_sq_dist("e.ex", "e.ey", "s.fx", "s.fy")}) * 64 + s.sid // {STATION_MOD}) AS p
  FROM ev e CROSS JOIN stations s
  GROUP BY 1
)
SELECT (p % 64) * {STATION_MOD} AS station_id,
       CAST(count(*) AS BIGINT) AS n_pings,
       CAST(sum(p // 64) // count(*) AS BIGINT) AS mean_d2,
       CAST(max(p // 64) AS BIGINT) AS max_d2
FROM packed GROUP BY 1
"""


def events_convex_hull_sql() -> str:
    return f"""
WITH {_event_points_cte()},
pt AS (SELECT DISTINCT user_id, ex, ey FROM ev),
npts AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_points FROM pt GROUP BY 1),
edges AS (
  -- (a, b) is a CCW hull edge iff every point is left-of-or-on the
  -- directed line a->b and none lies strictly between a and b
  SELECT a.user_id, a.ex AS ax, a.ey AS ay, b.ex AS bx, b.ey AS by
  FROM pt a JOIN pt b USING (user_id)
  WHERE (a.ex <> b.ex OR a.ey <> b.ey)
    AND NOT EXISTS (
      SELECT 1 FROM pt c WHERE c.user_id = a.user_id
        AND (b.ex - a.ex) * (c.ey - a.ey) - (b.ey - a.ey) * (c.ex - a.ex) < 0)
    AND NOT EXISTS (
      SELECT 1 FROM pt c WHERE c.user_id = a.user_id
        AND (b.ex - a.ex) * (c.ey - a.ey) - (b.ey - a.ey) * (c.ex - a.ex) = 0
        AND (c.ex - a.ex) * (b.ex - a.ex) + (c.ey - a.ey) * (b.ey - a.ey) > 0
        AND (c.ex - a.ex) * (b.ex - a.ex) + (c.ey - a.ey) * (b.ey - a.ey)
            < (b.ex - a.ex) * (b.ex - a.ex) + (b.ey - a.ey) * (b.ey - a.ey))
)
SELECT n.user_id, n.n_points,
       CAST(coalesce(abs(sum(e.ax * e.by - e.bx * e.ay)), 0) AS BIGINT)
         AS hull_area2
FROM npts n LEFT JOIN edges e USING (user_id)
GROUP BY 1, 2
"""


def geo_uncovered_docs_sql() -> str:
    return f"""
WITH {_pts_cte()}, {_edges_cte()},
hits AS (SELECT DISTINCT doc_id FROM ({_pip("pts", "doc_id")}))
SELECT p.gx >> {HOTSPOT_SHIFT} AS tx, p.gy >> {HOTSPOT_SHIFT} AS ty,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(p.doc_id) AS min_doc_id
FROM pts p LEFT JOIN hits h USING (doc_id)
WHERE h.doc_id IS NULL
GROUP BY 1, 2
"""


def events_popular_routes_sql() -> str:
    return f"""
WITH {_event_points_cte()},
steps AS (
  SELECT lag(cx) OVER w AS fx, lag(cy) OVER w AS fy, cx AS tx, cy AS ty
  FROM (SELECT *, ex >> {TRAJSIM_SHIFT} AS cx, ey >> {TRAJSIM_SHIFT} AS cy FROM ev)
  {_TRACK}
),
counts AS (
  SELECT fx, fy, tx, ty, CAST(count(*) AS BIGINT) AS n_trips
  FROM steps
  WHERE fx IS NOT NULL AND (fx <> tx OR fy <> ty)
  GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT *, row_number() OVER (
    ORDER BY n_trips DESC, fx, fy, tx, ty
  ) AS rank
  FROM counts
)
SELECT CAST(rank AS BIGINT) AS rank, fx, fy, tx, ty, n_trips
FROM ranked WHERE rank <= {ROUTE_TOPK}
"""


def geo_tile_skyline_sql() -> str:
    return f"""
WITH {_event_points_cte()},
tiles AS (
  SELECT ex >> {FENCE_SHIFT} AS tx, ey >> {FENCE_SHIFT} AS ty,
         CAST(count(*) AS BIGINT) AS n_pings,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ev GROUP BY 1, 2
)
SELECT a.tx, a.ty, a.n_pings, a.n_users
FROM tiles a
WHERE NOT EXISTS (
  SELECT 1 FROM tiles b
  WHERE b.n_pings >= a.n_pings AND b.n_users >= a.n_users
    AND (b.n_pings > a.n_pings OR b.n_users > a.n_users)
)
"""


def geo_choropleth_bins_sql() -> str:
    return f"""
WITH {_event_points_cte()},
tiles AS (
  SELECT ex >> {HOTSPOT_SHIFT} AS tx, ey >> {HOTSPOT_SHIFT} AS ty,
         CAST(count(*) AS BIGINT) AS n_pings
  FROM ev GROUP BY 1, 2
)
SELECT tx, ty, n_pings,
       CAST(ntile({CHORO_BINS}) OVER (ORDER BY n_pings, tx, ty) AS BIGINT)
         AS quintile
FROM tiles
"""


def _drop_char(s: str, p: str) -> str:
    """``s`` without its (0-based) character ``p``: a one-deletion typo."""
    return f"substr({s}, 1, CAST({p} AS INT)) || substr({s}, CAST({p} + 2 AS INT))"


def text_fuzzy_link_sql() -> str:
    return f"""
WITH {_mentions_cte()},
typos AS (
  SELECT doc_id, {_drop_char("surface", "p")} AS typo
  FROM (SELECT doc_id, surface, (doc_id + j) % 9 AS p FROM ment)
),
variants AS (
  SELECT DISTINCT gaz_idx, surface, {_drop_char("surface", "p")} AS typo
  FROM (SELECT g.i AS gaz_idx, printf('GEO_%05d', g.i) AS surface, d.p
        FROM range({layers.N_GAZ}) g(i) CROSS JOIN range(0, 9) d(p))
),
cand AS (
  SELECT DISTINCT t.doc_id, v.gaz_idx
  FROM typos t JOIN variants v USING (typo)
  WHERE levenshtein(t.typo, v.surface) = 1
)
SELECT gaz_idx, CAST(count(*) AS BIGINT) AS n_docs
FROM cand GROUP BY 1
"""


def events_stay_overlaps_sql() -> str:
    return f"""
WITH {_event_points_cte()}, {_stays_cte()},
st AS (
  SELECT user_id, island, arrive_sec AS t0, depart_sec AS t1,
         cx >> {HOTSPOT_SHIFT} AS cx, cy >> {HOTSPOT_SHIFT} AS cy
  FROM stays
),
pairs AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b,
         a.cx, a.cy, a.island AS ia, b.island AS ib
  FROM st a JOIN st b
    ON a.cx = b.cx AND a.cy = b.cy
   AND a.user_id < b.user_id
   AND a.t0 <= b.t1 AND b.t0 <= a.t1
)
SELECT user_a, user_b, cx, cy, CAST(count(*) AS BIGINT) AS n_overlaps
FROM pairs GROUP BY 1, 2, 3, 4
"""


def events_heading_hist_sql() -> str:
    return f"""
WITH {_event_points_cte()},
hops AS (
  SELECT lag(ex) OVER w AS x0, lag(ey) OVER w AS y0,
         ex - lag(ex) OVER w AS dx, ey - lag(ey) OVER w AS dy
  FROM ev {_TRACK}
)
SELECT x0 >> {HOTSPOT_SHIFT} AS tx, y0 >> {HOTSPOT_SHIFT} AS ty,
       CAST(CASE
         WHEN abs(dx) > 2 * abs(dy) THEN CASE WHEN dx > 0 THEN 0 ELSE 4 END
         WHEN abs(dy) > 2 * abs(dx) THEN CASE WHEN dy > 0 THEN 2 ELSE 6 END
         WHEN dx > 0 AND dy > 0 THEN 1
         WHEN dx < 0 AND dy > 0 THEN 3
         WHEN dx < 0 AND dy < 0 THEN 5
         ELSE 7
       END AS BIGINT) AS octant,
       CAST(count(*) AS BIGINT) AS n_hops
FROM hops
WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0)
GROUP BY 1, 2, 3
"""


def webtext_crawl_cost_sql(rounds: int = 4) -> str:
    """Mirror of linkgraph.cheapest_paths over the shared host-edge
    fixture: multiplicity-derived edge costs, same seeds, same unrolled
    Bellman-Ford min-relax rounds."""
    head = f"""
WITH {_host_edges_cte("e")},
ed AS (
  SELECT src, dst, 1000000 // (1 + count(*)) AS edge_cost
  FROM e GROUP BY 1, 2
),
d0 AS (SELECT host, 0 AS cost FROM {_host_nodes()} WHERE i % 10 = 0)"""
    return _min_relax_sql(head, rounds, "cost", "ed.edge_cost")


def geo_tile_closest_pair_sql(shift: int = 5) -> str:
    return f"""
WITH {_pts0_only()},
d AS (
  SELECT DISTINCT gx >> {shift} AS tx, gy >> {shift} AS ty, gx, gy
  FROM pts0
),
pairs AS (
  SELECT a.tx, a.ty,
         (a.gx - b.gx) * (a.gx - b.gx) + (a.gy - b.gy) * (a.gy - b.gy) AS d2
  FROM d a JOIN d b
    ON a.tx = b.tx AND a.ty = b.ty
   AND (a.gx <> b.gx OR a.gy <> b.gy)
)
SELECT p.tx, p.ty,
       CAST(count(DISTINCT (d.gx, d.gy)) AS BIGINT) AS n_pts,
       min(p.d2) AS min_d2
FROM pairs p JOIN d ON d.tx = p.tx AND d.ty = p.ty
GROUP BY 1, 2
"""


def events_gap_stats_sql() -> str:
    return f"""
WITH {_event_points_cte()},
gaps AS (
  SELECT user_id, event_id, sec - lag(sec) OVER w AS gap
  FROM ev {_TRACK}
),
g AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps, max(gap) AS max_gap
  FROM g GROUP BY 1
),
med AS (
  SELECT user_id, gap AS median_gap FROM (
    SELECT user_id, gap, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY gap, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id) AS cnt
    FROM g
  ) WHERE rn = (cnt + 1) // 2
)
SELECT a.user_id, a.n_gaps, a.max_gap, m.median_gap
FROM agg a JOIN med m USING (user_id)
"""


def events_state_history_sql() -> str:
    return f"""
WITH {_fences_cte()}, {_event_points_cte()},
{_fence_state_cte("e.user_id, e.ts, e.event_id, e.sec")},
flagged AS (
  SELECT *, CASE WHEN lag(state) OVER w IS NULL
                   OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS chg
  FROM pinged {_TRACK}
),
runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM flagged
),
hist AS (
  SELECT user_id, run, min(state) AS state, min(sec) AS valid_from,
         CAST(count(*) AS BIGINT) AS n_pings
  FROM runs GROUP BY 1, 2
)
SELECT user_id, CAST(run AS BIGINT) AS version, state, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) AS valid_to,
       n_pings
FROM hist
"""


def geo_tile_day_bitmask_sql() -> str:
    return f"""
WITH {_event_points_cte()},
d0 AS (SELECT min(day) AS d0 FROM ev),
masks AS (
  SELECT ex >> {HOTSPOT_SHIFT} AS tx, ey >> {HOTSPOT_SHIFT} AS ty,
         bit_or(CAST(1 AS BIGINT) << CAST(day - d0.d0 AS INT)) AS mask
  FROM ev CROSS JOIN d0
  WHERE day - d0.d0 < 63
  GROUP BY 1, 2
)
SELECT a.tx AS ta_x, a.ty AS ta_y, b.tx AS tb_x, b.ty AS tb_y,
       CAST(bit_count(a.mask & b.mask) AS BIGINT) AS n_both,
       CAST(bit_count(a.mask | b.mask) AS BIGINT) AS n_either,
       CAST(bit_count(a.mask & b.mask) AS BIGINT) * 1000000
         // CAST(bit_count(a.mask | b.mask) AS BIGINT) AS jaccard_ppm
FROM masks a JOIN masks b
  ON a.tx * 1024 + a.ty < b.tx * 1024 + b.ty
WHERE bit_count(a.mask & b.mask) > 0
"""


def webtext_graph_diff_sql() -> str:
    return f"""
WITH {_host_edges_cte("ea0", "doc_id % 10 <> 7")},
{_host_edges_cte("eb0", "doc_id % 10 <> 3")},
ea AS (SELECT DISTINCT src, dst FROM ea0),
eb AS (SELECT DISTINCT src, dst FROM eb0),
j AS (
  SELECT coalesce(ea.src, eb.src) AS src,
         CASE WHEN ea.src IS NULL THEN 'gained'
              WHEN eb.src IS NULL THEN 'lost'
              ELSE 'persisted' END AS cls
  FROM ea FULL OUTER JOIN eb ON ea.src = eb.src AND ea.dst = eb.dst
)
SELECT src,
       CAST(sum(CASE WHEN cls = 'gained' THEN 1 ELSE 0 END) AS BIGINT) AS n_gained,
       CAST(sum(CASE WHEN cls = 'lost' THEN 1 ELSE 0 END) AS BIGINT) AS n_lost,
       CAST(sum(CASE WHEN cls = 'persisted' THEN 1 ELSE 0 END) AS BIGINT) AS n_persisted
FROM j GROUP BY 1
"""


def events_hopping_windows_sql() -> str:
    return f"""
WITH {_event_points_cte()},
hops AS (
  SELECT event_type, k.k * {HOP_SLIDE_S} AS window_start
  FROM ev
  CROSS JOIN LATERAL (
    SELECT unnest(range((sec - {HOP_WINDOW_S}) // {HOP_SLIDE_S} + 1,
                        sec // {HOP_SLIDE_S} + 1)) AS k
  ) k
)
SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events
FROM hops GROUP BY 1, 2
"""


def geo_fence_affinity_sql() -> str:
    return f"""
WITH {_fences_cte()}, {_event_points_cte()},
visits AS (SELECT DISTINCT e.user_id, f.fence_id FROM ev e JOIN fences f ON {_IN_FENCE}),
u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM visits),
pf AS (
  SELECT fence_id, CAST(count(*) AS BIGINT) AS n_visitors
  FROM visits GROUP BY 1
),
pairs AS (
  SELECT a.fence_id AS fa, b.fence_id AS fb,
         CAST(count(*) AS BIGINT) AS n_both
  FROM visits a JOIN visits b USING (user_id)
  WHERE a.fence_id < b.fence_id
  GROUP BY 1, 2
  HAVING count(*) >= {AFFINITY_MIN_BOTH}
)
SELECT pairs.fa, pairs.fb, pairs.n_both,
       na.n_visitors AS n_a, nb.n_visitors AS n_b,
       pairs.n_both * u.n_users * 1000000 // (na.n_visitors * nb.n_visitors)
         AS lift_ppm
FROM pairs
JOIN pf na ON na.fence_id = pairs.fa
JOIN pf nb ON nb.fence_id = pairs.fb
CROSS JOIN u
"""


def geo_tile_changepoint_sql() -> str:
    return f"""
WITH {_event_points_cte()},
daily AS (
  SELECT ex >> {HOTSPOT_SHIFT} AS tx, ey >> {HOTSPOT_SHIFT} AS ty, day,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2, 3
),
scored AS (
  SELECT tx, ty, day,
         row_number() OVER wo AS k,
         sum(cnt) OVER (PARTITION BY tx, ty ORDER BY day
                        ROWS UNBOUNDED PRECEDING) AS sk,
         count(*) OVER wa AS n,
         sum(cnt) OVER wa AS sn
  FROM daily
  WINDOW wo AS (PARTITION BY tx, ty ORDER BY day),
         wa AS (PARTITION BY tx, ty)
),
dk AS (
  SELECT tx, ty, day, n, abs(n * sk - k * sn) AS dk,
         row_number() OVER (PARTITION BY tx, ty
                            ORDER BY abs(n * sk - k * sn) DESC, day) AS rn
  FROM scored
)
SELECT tx, ty, day AS change_day, CAST(dk AS BIGINT) AS cusum_peak,
       CAST(n AS BIGINT) AS n_days
FROM dk WHERE rn = 1
"""


def events_unpivot_sql() -> str:
    branches = " UNION ALL ".join(
        f"SELECT user_id, '{t}' AS event_type, n_{t} AS n FROM wide"
        for t in EVENT_TYPES
    )
    cols = ", ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
        for t in EVENT_TYPES
    )
    return f"""
WITH wide AS (
  SELECT user_id, {cols} FROM events GROUP BY 1
)
SELECT user_id, event_type, n FROM ({branches}) WHERE n > 0
"""


def events_percent_rank_ppm_sql() -> str:
    return """
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS v_micro
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, v_micro,
       (rank() OVER (PARTITION BY event_type ORDER BY v_micro) - 1) * 1000000
         // greatest(count(*) OVER (PARTITION BY event_type) - 1, 1)
         AS prank_ppm
FROM per_user
"""


def events_purchase_attribution_sql() -> str:
    return f"""
WITH {_fences_cte()}, {_event_points_cte()},
{_fence_state_cte("e.user_id, e.event_id, e.event_type, e.value")}
SELECT state AS fence_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
       CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS revenue_micro
FROM pinged WHERE event_type = 'purchase'
GROUP BY 1
"""


def geo_voronoi_edges_sql() -> str:
    side = 1 << TRAJSIM_SHIFT
    half = side // 2
    return f"""
WITH {_stations_cte()},
grid AS (
  SELECT i % 32 AS cx, i // 32 AS cy,
         (i % 32) * {side} + {half} AS px, (i // 32) * {side} + {half} AS py
  FROM range(1024) t(i)
),
owner AS (
  SELECT g.cx, g.cy,
         (min(((g.px - s.fx) * (g.px - s.fx) + (g.py - s.fy) * (g.py - s.fy))
              * 64 + s.sid // {STATION_MOD}) % 64) * {STATION_MOD} AS station_id
  FROM grid g CROSS JOIN stations s
  GROUP BY 1, 2
)
SELECT o.cx, o.cy, o.station_id,
       coalesce(e.station_id, -1) AS east_station,
       coalesce(s.station_id, -1) AS south_station
FROM owner o
LEFT JOIN owner e ON e.cx = o.cx + 1 AND e.cy = o.cy
LEFT JOIN owner s ON s.cx = o.cx AND s.cy = o.cy + 1
WHERE (e.station_id IS NOT NULL AND e.station_id <> o.station_id)
   OR (s.station_id IS NOT NULL AND s.station_id <> o.station_id)
"""


def geo_route_friction_sql() -> str:
    cell = cells.morton_sql("(xt >> 5)", "(yt >> 5)", 5)
    dcell = cells.morton_sql(f"(ex >> {TRAJSIM_SHIFT})", f"(ey >> {TRAJSIM_SHIFT})", 5)
    return f"""
WITH {_event_points_cte()}, {_route_points_cte()},
route AS (SELECT DISTINCT user_id, CAST({cell} AS BIGINT) AS cell_id FROM pts),
density AS (
  SELECT CAST({dcell} AS BIGINT) AS cell_id, CAST(count(*) AS BIGINT) AS density
  FROM ev GROUP BY 1
)
SELECT r.user_id, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(d.density) AS BIGINT) AS friction,
       CAST(max(d.density) AS BIGINT) AS max_cell_density
FROM route r JOIN density d USING (cell_id)
GROUP BY 1
"""
