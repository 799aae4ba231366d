"""BPE tokenizer-vocabulary induction (Sennrich et al. 2016) as a Spark
job: learn the top-k merge rules from corpus word frequencies.

The training loop is the textbook shape every BPE/WordPiece trainer uses:
ONE corpus-wide pass aggregates word frequencies (the only big-data
stage), after which every merge round operates on the word-frequency
table — a vocabulary-bounded dim orders of magnitude smaller than the
corpus. Each round is a distributed pair-count aggregate plus a single
argmax row collected to the driver (the merge rule — BPE's merge table is
driver-sized BY DEFINITION, exactly like k-means centroids), then a
map-side string replace applies the rule.

Symbol encoding is the load-bearing trick for cross-engine exactness:
words are encoded as delimiter-bracketed symbol runs — ``batch`` ->
``\x01b\x02\x01a\x02...`` — so applying merge (a,b) is the plain string
replace ``\x01a\x02\x01b\x02`` -> ``\x01ab\x02``. Adjacent pairs share
NO characters (unlike space-delimited encodings, where ``a b a b``
replacing ``' a b '`` consumes the shared space and misses the second
pair), so left-to-right non-overlapping ``replace`` in Spark and DuckDB
both implement exactly BPE's greedy disjoint merge.

The delimiters are the control bytes \x01/\x02, NOT printable brackets:
a literal ``(`` or ``)`` inside a word (ubiquitous in web text) would
collide with a bracket encoding and corrupt pair splitting — ``a)b``
encodes to ``(a)()(b)`` whose split invents a phantom empty symbol. Raw
\x01/\x02 bytes in input tokens would collide the same way, so they are
stripped before encoding (the one lossy preprocessing step, mirrored by
the oracle; post-extraction web text virtually never contains them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from .. import driver_arm
from ..localdf import arrow_local_df

from .dedup import tokens_df


SEP_A = "\x01"  # symbol open
SEP_B = "\x02"  # symbol close


def _encode(col):
    """word -> delimiter-bracketed symbol run (collision-free: \x01/\x02
    are stripped from the input first)."""
    clean = F.translate(col, SEP_A + SEP_B, "")
    return F.concat(
        F.lit(SEP_A),
        F.array_join(F.split(clean, ""), SEP_B + SEP_A),
        F.lit(SEP_B),
    )


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over the (seq, n) vocab table."""
    syms = F.split(F.expr("substring(seq, 2, length(seq) - 2)"), SEP_B + SEP_A)
    pairs = vocab.select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(syms) - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("sym_a"),
                    F.element_at(syms, i + 1).alias("sym_b"),
                ),
            )
        ).alias("p"),
    ).filter(F.size(syms) >= 2)
    return pairs.groupBy("p.sym_a", "p.sym_b").agg(
        F.sum("n").alias("pair_count")
    )


def _merge_rounds_local(seqs: list, ns: list, merges: int) -> list:
    """Driver-side merge rounds over the collected vocab — exact mirror of
    the distributed loop: pair counts weighted by word frequency, argmax
    with (count desc, sym_a asc, sym_b asc) tie-break, then the same
    left-to-right non-overlapping replace (Python str.replace == Spark
    ``replace`` on the collision-free bracket encoding)."""
    rules = []
    sep = SEP_B + SEP_A
    for rank in range(1, merges + 1):
        cnt: dict = {}
        for seq, n in zip(seqs, ns):
            syms = seq[1:-1].split(sep)
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                cnt[key] = cnt.get(key, 0) + n
        if not cnt:
            break
        (sym_a, sym_b), pair_count = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((rank, sym_a, sym_b, pair_count))
        pat = f"{SEP_A}{sym_a}{SEP_B}{SEP_A}{sym_b}{SEP_B}"
        rep = f"{SEP_A}{sym_a}{sym_b}{SEP_B}"
        seqs = [s.replace(pat, rep) for s in seqs]
    return rules


def bpe_train(docs: DataFrame, merges: int = 8) -> DataFrame:
    """Learn the top-``merges`` BPE merge rules; returns (merge_rank,
    sym_a, sym_b, pair_count).

    Ties break deterministically (count desc, sym_a asc, sym_b asc), so
    the whole merge sequence is reproducible — the DuckDB oracle unrolls
    the same rounds and must produce the identical table.

    The corpus-wide word-count pass stays distributed; the merge rounds
    run over the vocabulary dim, which is orders smaller than the corpus
    — when it fits ``driver_arm.ROW_CAP`` the ``merges`` rounds run
    driver-side in pure Python (bit-equal: integer counts, identical
    tie-break, and Python ``str.replace`` is the same left-to-right
    non-overlapping merge as Spark ``replace`` on the bracket encoding —
    pinned by tests), saving 2 vocabulary-dim jobs + a localCheckpoint
    per round.
    """
    spark = docs.sparkSession
    counts = tokens_df(docs, by_doc=False).groupBy("tok").agg(
        F.count("*").alias("n"))
    vocab = counts.select(_encode(F.col("tok")).alias("seq"), "n")
    # the corpus pass is done; everything below runs on the vocab dim
    vocab = vocab.localCheckpoint()
    pdf = driver_arm.collect_if_small(vocab, driver_arm.ROW_CAP)
    if pdf is not None:
        rules = _merge_rounds_local(
            list(pdf["seq"]), [int(x) for x in pdf["n"]], merges)
    else:
        rules = []
        for rank in range(1, merges + 1):
            best = (
                _pair_counts(vocab)
                .orderBy(
                    F.col("pair_count").desc(),
                    F.col("sym_a").asc(),
                    F.col("sym_b").asc(),
                )
                .first()  # bound: one row
            )
            if best is None:
                break
            rules.append((rank, best.sym_a, best.sym_b, best.pair_count))
            pat = f"{SEP_A}{best.sym_a}{SEP_B}{SEP_A}{best.sym_b}{SEP_B}"
            rep = f"{SEP_A}{best.sym_a}{best.sym_b}{SEP_B}"
            vocab = vocab.select(
                F.replace(F.col("seq"), F.lit(pat), F.lit(rep)).alias("seq"), "n"
            ).localCheckpoint()
    return arrow_local_df(
        spark, rules,
        "merge_rank INT, sym_a STRING, sym_b STRING, pair_count BIGINT",
    )


def bpe_apply(docs: DataFrame, merges: int = 8) -> DataFrame:
    """Apply the learned merge table to the WHOLE corpus — the production
    tokenize step that follows ``bpe_train`` (train once on word counts,
    then encode every document). Returns per-doc tokenization stats:
    (doc_id, n_words, n_tokens, n_chars) where n_tokens counts symbols
    after all merges (n_tokens/n_chars is the compression the vocabulary
    buys).

    The merge table is collected (driver-sized BY DEFINITION — ``merges``
    rows) and applied as a chain of JVM ``replace`` expressions fused with
    the token scan: zero Python, zero extra shuffles beyond the final
    per-doc aggregate. The bracket encoding makes each replace exactly
    BPE's greedy disjoint merge (see the module note)."""
    # bound: ``merges`` rows, one per merge rule
    rules = bpe_train(docs, merges).orderBy("merge_rank").collect()
    enc = _encode(F.col("tok"))
    for r in rules:
        enc = F.replace(
            enc,
            F.lit(f"{SEP_A}{r['sym_a']}{SEP_B}{SEP_A}{r['sym_b']}{SEP_B}"),
            F.lit(f"{SEP_A}{r['sym_a']}{r['sym_b']}{SEP_B}"),
        )
    toks = tokens_df(docs).select(
        "doc_id", enc.alias("enc"),
        F.length(F.translate("tok", SEP_A + SEP_B, "")).alias("nc"),
    )
    n_sym = F.length("enc") - F.length(F.replace(F.col("enc"), F.lit(SEP_A)))
    return toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(n_sym).cast("long").alias("n_tokens"),
        F.sum("nc").cast("long").alias("n_chars"),
    )
