"""Text-analysis operators for LLM training-data pipelines (north star,
BASELINE.json): tokenization, token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All pure Spark built-ins (JVM-side, whole-stage codegen) — no Python in the
hot path. At 100 TB these are narrow per-row projections over the scan:
no shuffle, perfectly parallel, and column pruning means only ``text`` is
read when only text features are needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parallelism import spread_fanout

# Word-boundary tokenizer shared by all text ops.
TOKEN_SPLIT_RE = r"\s+"
# BPE-ish pre-tokenizer: word pieces or single non-space punctuation —
# the classic GPT-2-style coarse split expressible as a regex.
BPE_ISH_RE = r"\w+|[^\w\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# Tiny per-language marker-word sets for the n-gram/stopword language-ID
# heuristic. Deliberately small + deterministic so the same formula is
# expressible in ANSI SQL for the oracle gate.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
    "de": ("der", "die", "und"),
}


def tokens_col(text: str = "text") -> Column:
    """Whitespace tokenization CONVENTION shared by every token surface in
    the package AND by the DuckDB oracles (string_split on the same
    regex): note ``split('')`` yields ``['']``, so an empty/whitespace-only
    document counts as ONE empty token on both engines. Changing this
    (e.g. filtering the empty token) must be done in lock-step with every
    oracle; on the driver corpora no document is empty, so the convention
    is never load-bearing there."""
    return F.split(F.lower(F.trim(F.col(text))), TOKEN_SPLIT_RE)


def with_tokens(df: DataFrame, text: str = "text", out: str = "toks") -> DataFrame:
    return df.withColumn(out, tokens_col(text))


def _sum_token_len(text: str) -> Column:
    return F.aggregate(
        tokens_col(text), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )


def _count_in_set(text: str, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens_col(text), lambda x: x.isin(*words)))


def token_stats(df: DataFrame, text: str = "text") -> DataFrame:
    """Whitespace token count, BPE-ish token count, char count, avg token
    length — the token-counting surface of a data pipeline."""
    toks = tokens_col(text)
    n_toks = F.size(toks)
    sum_len = _sum_token_len(text)
    return (
        df.withColumn("n_tokens", n_toks.cast("long"))
        .withColumn("n_bpe_tokens", F.regexp_count(F.col(text), F.lit(BPE_ISH_RE)).cast("long"))
        .withColumn("n_chars_m", F.length(F.col(text)).cast("long"))
        .withColumn(
            "avg_token_len",
            F.round(sum_len / F.nullif(n_toks, F.lit(0)), 6),
        )
    )


def quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Deterministic document quality score in [0,1]:
    0.3*min(tokens/100,1) + 0.3*(1-punct_ratio) + 0.2*stopword_ratio
    + 0.2*min(avg_token_len/10,1). A stand-in for classifier-based quality
    filters; the shape (cheap per-row features -> score -> filter) is the
    production pattern."""
    toks = tokens_col(text)
    n_toks = F.size(toks).cast("double")
    n_stop = _count_in_set(text, STOPWORDS).cast("double")
    n_punct = F.regexp_count(F.col(text), F.lit(r"[^\w\s]")).cast("double")
    n_chars = F.length(F.col(text)).cast("double")
    sum_len = _sum_token_len(text).cast("double")
    punct_ratio = n_punct / F.nullif(n_chars, F.lit(0.0))
    stop_ratio = n_stop / F.nullif(n_toks, F.lit(0.0))
    avg_len = sum_len / F.nullif(n_toks, F.lit(0.0))
    score = (
        0.3 * F.least(n_toks / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.coalesce(punct_ratio, F.lit(0.0)))
        + 0.2 * F.coalesce(stop_ratio, F.lit(0.0))
        + 0.2 * F.least(F.coalesce(avg_len, F.lit(0.0)) / 10.0, F.lit(1.0))
    )
    return (
        df.withColumn("punct_ratio", F.round(F.coalesce(punct_ratio, F.lit(0.0)), 6))
        .withColumn("stopword_ratio", F.round(F.coalesce(stop_ratio, F.lit(0.0)), 6))
        .withColumn("quality", F.round(score, 6))
    )


def lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """Marker-word language-ID heuristic: count per-language marker tokens,
    argmax with fixed priority order (en > fr > es > de), 'und' when no
    marker hits."""
    counts: dict[str, Column] = {
        lang: _count_in_set(text, markers) for lang, markers in LANG_MARKERS.items()
    }
    c = counts
    best = F.greatest(*c.values())
    pred = (
        F.when(best == 0, F.lit("und"))
        .when(c["en"] == best, F.lit("en"))
        .when(c["fr"] == best, F.lit("fr"))
        .when(c["es"] == best, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return df.withColumn("lang_pred", pred)


def fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized lowercase text
    (exact-dup key) + a polynomial rolling hash over tokens (order-sensitive
    content signature, mod 1e9+7 to stay overflow-free in any engine)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text))), r"\s+", " ")
    rolling = F.aggregate(
        F.transform(tokens_col(text), lambda x: (F.ascii(x) * 7 + F.length(x)).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * 131 + v) % 1000000007,
    )
    return df.withColumn("fp_md5", F.md5(norm)).withColumn("fp_rolling", rolling)


def _fuzzy_pairs_d2(names: DataFrame, max_name_len: int) -> DataFrame:
    """(name_a, name_b, dist) for all distinct-value pairs within 2
    Levenshtein edits, by EDIT-CLASS DECOMPOSITION over positional
    deletion keys — candidate volume stays proportional to the true pair
    count, unlike plain SymSpell depth-2 bucketing, whose bucket² x
    shared-key multiplicity generated ~8 candidate rows per true pair on
    dense corpora (measured at sf0.1).

    Any pair with lev <= 2 falls in a class by length delta:

    - Δ0 (same length): {sub}, {sub, sub}, or {delete, insert}.
      1-sub and del+ins pairs share a SINGLE-deletion key (delete the
      touched position from each side) -> K1 ⋈ K1; any K1 match between
      distinct same-length strings is lev <= 2 by construction, so the
      join needs no residual predicate. 2-sub pairs share the
      DOUBLE-deletion key at exactly their two mismatch positions ->
      K2 ⋈ K2 restricted to equal positions with both deleted chars
      differing: multiplicity exactly 1, and matches at other position
      pairs are not needed (those pairs are 1-sub/del+ins, already
      covered, or farther than 2 edits).
    - Δ1: {insert} -> the shorter string IS a single deletion of the
      longer: K0 ⋈ K1. {insert, sub} -> shorter-minus-1 equals
      longer-minus-2 somewhere: K1 ⋈ K2 — the one class that also
      surfaces lev-3 candidates; the closing exact-levenshtein filter
      removes them.
    - Δ2: {insert, insert} -> shorter equals longer-minus-2: K0 ⋈ K2.

    Keys join as xxhash64 of the deletion string (8-byte shuffle rows); a
    hash collision can only ADD a candidate (killed by the levenshtein
    filter), never lose a pair. Key-length equality makes the classes
    self-selecting — a K1 key of an L-string never equals a K1 key of an
    (L+1)-string — so no length predicates are needed.

    Scale: K1 is O(n·L) rows, K2 is O(n·L²) — the L² fan-out is why
    ``max_name_len`` (default 64) is enforced with an in-plan assert
    (woven into the used column so the optimizer cannot prune it) rather
    than a silent explosion. Key relations are materialized once and
    reused across the class joins.
    """
    guarded = F.when(
        F.assert_true(
            F.length("name") <= max_name_len,
            F.concat(
                F.lit(
                    "fuzzy_name_pairs(max_dist=2) refuses strings longer "
                    "than max_name_len="
                ),
                F.lit(str(max_name_len)),
                F.lit(": got length="),
                F.length("name").cast("string"),
                F.lit(" — truncate/normalize upstream or raise max_name_len"),
            ),
        ).isNull(),
        F.col("name"),
    )
    # The distinct-names relation is tiny (AQE coalesces it to ~1
    # partition), but every deletion-key explode below does O(L²) hash
    # work per row — re-spread before the checkpoint so those stages use
    # every core (measured at sf0.1: three single-task 3-5 s explode
    # stages collapse to sub-second; no-op when the input is already wide).
    filtered = names.filter(F.col("name").isNotNull()).select(guarded.alias("name"))
    base = spread_fanout(filtered).localCheckpoint(eager=True)
    # The four plain-key classes fold into ONE join: LEFT = K0 ∪ K1
    # (depths 0-1), RIGHT = K1 ∪ K2 (depths 1-2). Key-length equality
    # makes depth combos self-selecting — (0,1) is the pure insert, (1,1)
    # same-length sub / del+ins, (1,2) insert+sub, (2,2-as-plain-keys)
    # never matches across (0,*) since lengths differ by construction —
    # so one kh-join covers c_insert, c_sub_delins, c_insert_sub and
    # c_two_inserts, at 2 joins / 2 codegen stages total instead of 5
    # (measured: 13.2 s -> 9.2 s cold, 5.6 s -> 3.2 s warm at sf0.1).
    # Only the positional 2-sub class needs its own join. Nothing but
    # ``base`` is checkpointed: every key relation is one narrow explode
    # off the materialized 1-column base — recomputing it is cheaper
    # than serializing millions of key rows.
    k1_keys = (
        "IF(length(name) >= 1, array_distinct(transform(sequence(1, length(name)), "
        "i -> xxhash64(concat(substring(name, 1, i - 1), "
        "substring(name, i + 1, length(name) - i))))), "
        "array())"
    )
    k2_structs = (
        "IF(length(name) >= 2, flatten(transform(sequence(1, length(name) - 1), "
        "i -> transform(sequence(i + 1, length(name)), j -> "
        "struct(xxhash64(concat(substring(name, 1, i - 1), "
        "substring(name, i + 1, j - i - 1), "
        "substring(name, j + 1, length(name) - j))) AS kh, "
        "i AS pi, j AS pj, "
        "substring(name, i, 1) AS ci, substring(name, j, 1) AS cj)))), "
        "array())"
    )
    k0 = base.select(F.xxhash64("name").alias("kh"), "name")
    # array_distinct: repeated characters give identical deletion strings
    # from different positions; without the dedup every such run
    # multiplies the join fan-out.
    k1u = base.select("name", F.explode(F.expr(k1_keys)).alias("kh")).select(
        "kh", "name"
    )
    k2 = base.select("name", F.explode(F.expr(k2_structs)).alias("s")).select(
        "name", "s.kh", "s.pi", "s.pj", "s.ci", "s.cj"
    )
    # (kh, name) view of K2 deduped the same shuffle-free way as k1u:
    # array_distinct over a hash-only projection BEFORE the explode (a
    # second narrow pass over the checkpointed base), not a full-shuffle
    # distinct() of the exploded O(n·L²) relation — on zero-padded names
    # the repeated-character runs make many K2 strings collide per name,
    # and re-shuffling every key row just to dedup them is pure waste.
    k2u_keys = (
        "IF(length(name) >= 2, array_distinct(flatten("
        "transform(sequence(1, length(name) - 1), "
        "i -> transform(sequence(i + 1, length(name)), j -> "
        "xxhash64(concat(substring(name, 1, i - 1), "
        "substring(name, i + 1, j - i - 1), "
        "substring(name, j + 1, length(name) - j))))))), "
        "array())"
    )
    k2u = base.select("name", F.explode(F.expr(k2u_keys)).alias("kh")).select(
        "kh", "name"
    )

    def _pair(left_name, right_name):
        return [
            F.least(left_name, right_name).alias("name_a"),
            F.greatest(left_name, right_name).alias("name_b"),
        ]

    # Join strategies (guide §3.1): both joins are UNHINTED. A "merge"
    # hint forces sort-merge at every scale, paying a full sort of both
    # exploded key relations per join (r20 A/B at sf0.1: 2.94 s -> 2.52 s
    # without it); AQE broadcasts a small side from runtime sizes and
    # demotes to sort-merge at corpus scale. No shuffle_hash hint either:
    # a hinted hash build does not fall back by size, and the K2 build
    # side is O(n·L²) rows, so no estimate of the base relation can
    # certify that it fits a hash partition.
    left = k0.unionByName(k1u)
    right = k1u.unionByName(k2u)
    lft, rgt = left.alias("L"), right.alias("R")
    c_plain = lft.join(
        rgt,
        (F.col("L.kh") == F.col("R.kh")) & (F.col("L.name") != F.col("R.name")),
    ).select(*_pair(F.col("L.name"), F.col("R.name")))
    a2, b2 = k2.alias("a2"), k2.alias("b2")
    c_two_subs = a2.join(
        b2,
        (F.col("a2.kh") == F.col("b2.kh"))
        & (F.col("a2.name") < F.col("b2.name"))
        & (F.col("a2.pi") == F.col("b2.pi"))
        & (F.col("a2.pj") == F.col("b2.pj"))
        & (F.col("a2.ci") != F.col("b2.ci"))
        & (F.col("a2.cj") != F.col("b2.cj")),
    ).select(*_pair(F.col("a2.name"), F.col("b2.name")))

    cand = c_plain.unionByName(c_two_subs).distinct()
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 2)
    )


def fuzzy_name_pairs(
    df, name_col: str, max_dist: int = 1, max_name_len: int = 64
):
    """Fuzzy self-join on a string column: ALL pairs of DISTINCT values
    within ``max_dist`` Levenshtein edits — via EDIT-CLASS DECOMPOSITION
    over SymSpell-style deletion keys, never an all-pairs cross product.

    SymSpell premise: if lev(A, B) <= d, some deletion of <= d chars from
    A equals some deletion of <= d chars from B (each edit op is covered
    by deleting its touched character from the side(s) that have it), so
    deletion neighborhoods intersect. Rather than bucketing all keys
    together (bucket² candidate expansion x shared-key multiplicity), the
    pair classes join directly:

    - d=1: a substitution pair shares its single-deletion key AT THE
      MISMATCH POSITION with the deleted chars differing (K1 ⋈ K1 on
      (key, pos), multiplicity exactly 1, precision 1.0); an insert pair
      is the shorter string equaling a single deletion of the longer
      (K0 ⋈ K1). Two shuffle joins, candidates == true pairs.
    - d=2: see ``_fuzzy_pairs_d2`` (same idea, five classes folded into
      two joins).

    Keys join as xxhash64 of the deletion string (8-byte shuffle rows); a
    collision can only ADD a candidate, and the closing exact
    ``levenshtein`` filter removes it — precision 1.0 by the verify,
    recall 1.0 by the construction above, including cross-length pairs
    (which position-wildcard keys silently miss).

    Cost: O(n · length^max_dist) narrow key rows — linear in rows,
    combinatorial ONLY in string length, which is why max_dist is capped
    at 2 and d=2 refuses strings longer than ``max_name_len`` (default
    64 -> <= 2 145 keys per name) with an in-plan assert instead of
    silently exploding the key fan-out.
    """
    if max_dist not in (1, 2):
        raise ValueError("symmetric-delete keying supports max_dist in {1, 2}")
    names = df.select(F.col(name_col).alias("name")).distinct()
    if max_dist == 2:
        return _fuzzy_pairs_d2(names, max_name_len)
    # Same explode-parallelism guard as the d2 path (see _fuzzy_pairs_d2).
    base = spread_fanout(names.filter(F.col("name").isNotNull())).localCheckpoint(
        eager=True
    )
    # K1 with positions: one row per deletion position (kh, pos, deleted
    # char). sequence(lo, hi) is DESCENDING when hi < lo, so the range is
    # gated on non-emptiness.
    k1_structs = (
        "IF(length(name) >= 1, transform(sequence(1, length(name)), i -> "
        "struct(xxhash64(concat(substring(name, 1, i - 1), "
        "substring(name, i + 1, length(name) - i))) AS kh, "
        "i AS pos, substring(name, i, 1) AS ch)), "
        "array())"
    )
    k1 = base.select("name", F.explode(F.expr(k1_structs)).alias("s")).select(
        "name", "s.kh", "s.pos", "s.ch"
    )
    k0 = base.select(F.xxhash64("name").alias("kh"), "name")
    # r20: hints removed (guide §3.1) — the r19 "merge" hints forced a
    # sort of both 270k-row key relations per join at every scale; with
    # AQE deciding from runtime sizes the d1 pair build measured
    # 1.77 s -> 1.37 s (rotated min-of-4, sf0.1), and at corpus scale the
    # planner's default is the same sort-merge the hint forced.
    a, b = k1.alias("a"), k1.alias("b")
    # Same-length substitution: both deleted the mismatch position and the
    # deleted chars differ. Matching at pos with equal chars would mean
    # equal strings (excluded by name<name); matching at different
    # positions is a lev-2 shape — out of radius here.
    c_subs = a.join(
        b,
        (F.col("a.kh") == F.col("b.kh"))
        & (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.ch") != F.col("b.ch"))
        & (F.col("a.name") < F.col("b.name")),
    ).select(
        F.least("a.name", "b.name").alias("name_a"),
        F.greatest("a.name", "b.name").alias("name_b"),
    )
    z, d1 = k0.alias("z"), k1.alias("d1")
    c_insert = z.join(
        d1,
        (F.col("z.kh") == F.col("d1.kh")) & (F.col("z.name") != F.col("d1.name")),
    ).select(
        F.least("z.name", "d1.name").alias("name_a"),
        F.greatest("z.name", "d1.name").alias("name_b"),
    )
    return (
        c_subs.unionByName(c_insert)
        .distinct()
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= max_dist)
    )


def bm25_topk(
    docs: DataFrame,
    query_doc_id: int,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact BM25 (Okapi, Lucene idf form) top-k retrieval with the tokens
    of one corpus document as the query. Returns (id, bm25, lex_rank).

    Plan shape (100 TB):
    - the postings build (explode -> per-doc tf) is the standard inverted
      -index shuffle, O(total tokens) narrow rows;
    - query terms BROADCAST against the postings, so only postings of
      matching terms survive the join — the corpus is scanned once and
      never reshuffled on doc_id;
    - document frequency comes from ONE analytic count partitioned by
      token over the matched postings (no second aggregate + join-back);
    - corpus stats (N, avgdl) ride in as a broadcast single-row cross
      join; top-k is the per-partition TakeOrdered heap.
    Scores round to 4 decimals before ranking (sum order across engines
    differs at ~1e-15 relative; ranks must be bit-stable), ties break on
    id. No reference twin (LLM-retrieval extension, SURVEY.md §2).
    """
    from pyspark.sql.window import Window

    base = docs.select(F.col(id_col), tokens_col(text).alias("toks"))
    postings = (
        base.select(id_col, F.size("toks").alias("dl"), F.explode("toks").alias("token"))
        .groupBy(id_col, "dl", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    stats = base.select(F.size("toks").alias("dl")).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    qterms = (
        base.filter(F.col(id_col) == query_doc_id)
        .select(F.explode("toks").alias("token"))
        .distinct()
    )
    wtok = Window.partitionBy("token")
    scored = (
        postings.join(F.broadcast(qterms), "token")
        .withColumn("df", F.count(F.lit(1)).over(wtok).cast("double"))
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "score_t",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    topk = (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("score_t"), 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(k)
    )
    wr = Window.orderBy(F.col("bm25").desc(), id_col)
    return topk.withColumn("lex_rank", F.row_number().over(wr).cast("long"))
