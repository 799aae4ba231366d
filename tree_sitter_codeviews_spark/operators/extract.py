r"""Deterministic per-page extraction as one native Spark expression.

The engine analogue of the reference's preprocess + tokenize stage
(``utils/preprocessor.py:6-68``, ``tree_parser/c_parser.py:142-278``):
a pure function of the page bytes, byte-identical per url across reruns and
parallelism levels.

Invariant: ONE regex engine. Text and entity extraction both run on Java
regex inside the JVM (whole plan JVM-only, no Python worker on the path).
Every entity pattern carries ``(?U)`` so Java's ``\d`` matches Unicode
``Nd`` — what Python's ``\d`` matches on ``str``. The scalar reference
(``tests/reference_impl.extract_text_py`` plus a ``re.finditer`` scan) is
pinned to this path by the adversarial fixture in
``tests/test_vectorized_kernels.py`` (non-ASCII digits, astral-plane text,
the no-``<p>`` fallback, NULL and invalid UTF-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the page template is <title>url</title> ... <p>BODY</p>; extraction contract
# is "text inside the first <p> element", tags stripped, no entity decoding.
_P_JAVA = "(?s)<p>(.*?)</p>"
_TAG_JAVA = "<[^>]+>"
# a gazetteer surface: 9 code points ("GEO_" + five Nd digits)
_GEO_JAVA = r"(?U)GEO_\d{5}"
_GEO_LEN = 9

def _with_text(pages: DataFrame, keep: tuple[str, ...], out: str) -> DataFrame:
    """pages -> (keep..., out): html decoded ONCE in its own projection
    (Catalyst keeps a non-cheap column referenced more than once
    materialised), then the first ``<p>`` body, else the tag-stripped page.
    Malformed UTF-8 raises, as ``bytes.decode`` does. Each projection is
    one SQL text ``selectExpr`` (one py4j round trip, where the Column API
    pays several per operator)."""
    d = pages.selectExpr(*keep, "decode(html, 'UTF-8') as _d")
    return d.selectExpr(
        *keep,
        f"CASE WHEN _d RLIKE '{_P_JAVA}' THEN regexp_extract(_d, '{_P_JAVA}', 1) "
        f"ELSE regexp_replace(_d, '{_TAG_JAVA}', '') END as {out}",
    )


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages -> (doc_id, url, warc_ts, lang, text_out)."""
    return _with_text(pages, ("doc_id", "url", "warc_ts", "lang"), "text_out")


def page_entities(pages: DataFrame, gazetteer: DataFrame) -> DataFrame:
    """pages ⋈ gazetteer -> (url, doc_id, entity_id, surface, char_offset,
    lon, lat, entity_kind).

    entity_id = ordinal of occurrence within the page (content-derived
    surrogate key, cf. reference ``custom_parser.py:45-57`` — NEVER
    monotonically_increasing_id); char_offset = code-point offset in the
    extracted text: the lengths of the text pieces before the match plus
    ``_GEO_LEN`` per earlier match. Extraction is an array + explode (the
    UDTF pattern, SURVEY.md §2.10); the lon/lat resolution is a **broadcast
    equi-join** against the tiny gazetteer dim — the engine's version of
    use→declaration resolution (``c_parser.py:227-249``).

    ``explode_outer`` + a null filter rather than ``explode``: for an
    ``explode`` of an array column the optimizer infers ``size(e) > 0`` and
    pushes it, with the whole extraction inside, below the pages exchange,
    so every page would be extracted twice (asserted in
    tests/test_plans.py).
    """
    t = _with_text(pages, ("url", "doc_id"), "t")
    # surfaces and piece lengths in their own projection, so the lambda
    # below reads the arrays instead of re-running the regexes per entity
    # (r'' literals: the pattern's backslash reaches the regex unescaped)
    parts = t.selectExpr(
        "url", "doc_id",
        f"regexp_extract_all(t, r'{_GEO_JAVA}', 0) as surf",
        f"transform(split(t, r'{_GEO_JAVA}', -1), x -> length(x)) as lens",
    )
    exploded = (
        parts.selectExpr(
            "url", "doc_id",
            "explode_outer(transform(surf, (s, i) -> struct("
            "i AS entity_id, s AS surface, "
            "aggregate(slice(lens, 1, i + 1), 0, (a, n) -> a + n) "
            f"+ i * {_GEO_LEN} AS char_offset))) as e",
        )
        .filter("e IS NOT NULL")
        .selectExpr("url", "doc_id", "e.entity_id", "e.surface", "e.char_offset")
    )
    return exploded.join(F.broadcast(gazetteer), "surface", "inner").selectExpr(
        "url", "doc_id", "entity_id", "surface", "char_offset",
        "lon", "lat", "entity_kind",
    )


# ---------------------------------------------------------------------------
# preprocessor-conditional evaluation (reference cpp_nodes.py:494-528)
# ---------------------------------------------------------------------------
#
# The reference evaluates #if/#ifdef guard expressions against a fixed set
# of defines and keeps only active branches. The engine analogue: pages
# carry guard expressions over config flags; the evaluator below handles the
# bounded guard grammar
#
#     guard  := clause ('||' clause)*
#     clause := atom ('&&' atom)*
#     atom   := FLAG | '!' FLAG
#
# entirely with native higher-order functions (exists/forall over split) —
# the whole evaluation is one JVM-side expression, zero Python.

PREPROC_GUARDS = [
    "HAS_GEO",                  # -> True  under PREPROC_CONFIG
    "!HAS_GEO",                 # -> False
    "HAS_LANG&&HAS_GEO",        # -> False
    "!HAS_LANG",                # -> True
    "HAS_LANG||HAS_GEO",        # -> True
    "!HAS_GEO&&!HAS_LANG",      # -> False
]
PREPROC_CONFIG = {"HAS_GEO": True, "HAS_LANG": False}


def preproc_active_col(guard: F.Column, config: dict[str, bool]) -> F.Column:
    """Evaluate a guard expression column against a build config.

    Disjunctive-normal-form evaluation: the guard is true iff ANY
    '||'-clause has ALL its atoms true. Atom truth is a broadcast map
    lookup (the config is a literal map), negated when the atom starts
    with '!'.
    """
    cfg = F.create_map(*[
        x for k, v in config.items() for x in (F.lit(k), F.lit(v))
    ])

    def atom_true(atom: F.Column) -> F.Column:
        flag = F.regexp_replace(atom, "^!", "")
        val = F.element_at(cfg, flag)
        return F.when(atom.startswith("!"), ~val).otherwise(val)

    return F.exists(
        F.split(guard, "\\|\\|"),
        lambda term: F.forall(F.split(term, "&&"), atom_true),
    )
