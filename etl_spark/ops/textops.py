"""Text-pipeline operators over the ``documents`` table — the
training-data-curation layer: exact dedup, MinHash+LSH and SimHash near-dup
detection, n-gram Jaccard verification, quality scoring, language ID,
document fingerprinting, token counting.

All operators are pure Catalyst expressions (higher-order array functions,
md5, regexp) — no Python in the row path. The LSH/banding structure is the
100 TB scale path: candidate generation is an equi-join on band keys
(shuffle bounded by band-bucket sizes), never an all-pairs cross join;
exact Jaccard runs only on the candidate set.

Shared derivations (identical on the DuckDB oracle side):
  norm     = lower(trim(regexp_replace(text, '\\s+', ' ')))
  words    = split(norm, ' ')
  shingles = distinct 3-word shingles
  h1, h2   = the two 60-bit halves of ONE md5 per shingle, reduced mod
             p = 2^31 - 1; minhash stream i is min((h1 + i*h2) mod p)
             (Kirsch–Mitzenmacher) — one string hash per shingle, every
             further stream is two integer ops inside codegen.

Evaluation-count discipline (the round-1 perf bug): Catalyst's
CollapseProject inlines a withColumn expression into EVERY downstream
reference, so a lambda doing 3 element_at(words) per shingle re-ran
split(regexp_replace(text)) ~150× per document (and a generator consuming
it re-ran it per OUTPUT row → 20s for 5 000 docs). ``_let`` binds a
computed value to a higher-order-function lambda variable — evaluated
exactly once, references are variable reads — cutting the whole family to
sub-second. This also means signatures/simhash are pure per-row array
math: NO shuffle at all until the band-bucket candidate join.

Recall (threshold 0.5): MinHash 64 hashes / 32 bands × 2 rows gives
candidate probability 1-(1-j²)^32 ≈ 0.9999 at j=0.5 (round-1's 8/4 gave
0.68). SimHash bands are 4×4 bits: by pigeonhole any pair with hamming
≤ 3 agrees on at least one full band — zero candidate misses.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

N_MINHASH = 64         # minhash signature length
N_BANDS = 32           # LSH bands (2 hashes per band)
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 16
SIMHASH_BANDS = 4      # 4 bands x 4 bits: pigeonhole covers hamming<=3
SIMHASH_HAMMING_MAX = 3
MERSENNE_P = (1 << 31) - 1  # modulus for the KM hash streams

_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "for"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan, re-spread across the cluster. The local test files
    arrive as a single input split; a real 100 TB table is already split,
    making this a cheap no-op policy (1 round of tiny-row shuffle)."""
    spark_df = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return spark_df.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )


def _let(bound: Column, body) -> Column:
    """Let-binding for Catalyst: evaluate ``bound`` ONCE, reference it many
    times. transform() binds its lambda variable to the element value, so
    wrapping the value in a 1-element array and transforming gives a true
    `let` — CollapseProject cannot inline through a lambda variable."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def _norm() -> F.Column:
    return F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))


def _with_words(df: DataFrame) -> DataFrame:
    return df.withColumn("__words", F.split(_norm(), " "))


def _shingles_of(w: Column) -> Column:
    """Distinct 3-word shingles of a (let-bound) words array; empty array
    for docs with <3 words (the guard matters: Spark's sequence(1, n)
    DESCENDS when n < 1)."""
    sh = F.when(
        F.size(w) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1), F.element_at(w, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(sh)


def _with_shingles(df: DataFrame) -> DataFrame:
    """words → shingles with both levels let-bound (each computed once per
    row; see module docstring on CollapseProject re-evaluation)."""
    sh = _let(F.split(_norm(), " "), _shingles_of)
    return df.withColumn("__sh", sh)


# SQL fragments mirroring the derivations above
NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ')))"
WORDS_SQL = f"string_split({NORM_SQL}, ' ')"
DOCS_SHINGLED_SQL = f"""
    SELECT doc_id, list_distinct(
        CASE WHEN len(w) >= 3
             THEN list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
             ELSE [] END) AS sh
    FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
"""


# --- exact dedup (hash-groupBy; gardener key-dedup analog,
#     /root/reference/parser/parser.go:150-176) ------------------------------

def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(_norm()).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
    )


DOC_EXACT_DEDUP_SQL = f"""
    SELECT md5({NORM_SQL}) AS fp, count(*) AS n_docs, min(doc_id) AS keep_doc
    FROM documents GROUP BY 1
"""


# --- quality scoring ---------------------------------------------------------

def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    w = F.col("__words")
    n_tokens = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.,;:!?]"), 0))
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.floor((n_chars + 3) / 4).cast("long").alias("token_est"),
        F.round(sum_len.cast("double") / n_tokens, 4).alias("avg_word_len"),
        F.round(n_punct.cast("double") / n_chars, 4).alias("punct_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 4).alias("stopword_ratio"),
        ((n_tokens >= 10) & (sum_len / n_tokens <= 12)).alias("quality_ok"),
    )


DOC_QUALITY_SQL = f"""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(w) AS n_tokens,
           CAST(floor((length(text) + 3) / 4) AS BIGINT) AS token_est,
           round(CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS DOUBLE) / len(w), 4) AS avg_word_len,
           round(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / length(text), 4) AS punct_ratio,
           round(CAST(len(list_filter(w, x -> list_contains({_STOPWORDS!r}, x))) AS DOUBLE) / len(w), 4) AS stopword_ratio,
           len(w) >= 10 AND list_aggregate(list_transform(w, x -> length(x)), 'sum') / len(w) <= 12 AS quality_ok
    FROM (SELECT doc_id, text, {WORDS_SQL} AS w FROM documents)
"""


# --- language ID (n-gram/stopword heuristic) --------------------------------

def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    w = F.col("__words")
    en_hits = F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS)))
    n_nonascii = F.length(F.regexp_replace(F.col("text"), r"[\x20-\x7e]", ""))
    pred = (
        F.when(n_nonascii > 0, F.lit("zh"))
        .when(en_hits >= 2, F.lit("en"))
        .otherwise(F.lit("unk"))
    )
    return docs.select(
        "doc_id",
        en_hits.alias("en_hits"),
        n_nonascii.alias("n_nonascii"),
        pred.alias("pred_lang"),
        F.col("lang").alias("actual_lang"),
    )


DOC_LANG_ID_SQL = f"""
    SELECT doc_id,
           len(list_filter(w, x -> list_contains({_STOPWORDS!r}, x))) AS en_hits,
           length(regexp_replace(text, '[\\x20-\\x7e]', '', 'g')) AS n_nonascii,
           CASE WHEN length(regexp_replace(text, '[\\x20-\\x7e]', '', 'g')) > 0 THEN 'zh'
                WHEN len(list_filter(w, x -> list_contains({_STOPWORDS!r}, x))) >= 2 THEN 'en'
                ELSE 'unk' END AS pred_lang,
           lang AS actual_lang
    FROM (SELECT doc_id, text, lang, {WORDS_SQL} AS w FROM documents)
"""


# --- document fingerprint (order-insensitive content hash) -------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    dwords = F.array_distinct(F.col("__words"))
    return docs.select(
        "doc_id",
        F.size(dwords).alias("n_distinct_words"),
        F.md5(F.array_join(F.array_sort(dwords), " ")).alias("fingerprint"),
    )


DOC_FINGERPRINT_SQL = f"""
    SELECT doc_id,
           len(list_distinct(w)) AS n_distinct_words,
           md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS fingerprint
    FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
"""


# --- n-gram (3-word shingle) Jaccard near-dup pairs --------------------------
# Exact verification path: explode shingles → equi-join on shingle →
# count common per pair → Jaccard from distinct-shingle counts. All-integer
# math ⇒ exact. At scale the explode-join is bounded by shingle-bucket
# sizes (a hot shingle behaves like a hot join key → AQE skew split).

def doc_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_shingles(_docs(spark, sf_dir)).select("doc_id", "__sh")
    sizes = docs.select("doc_id", F.size("__sh").alias("n_sh"))
    ex = docs.select("doc_id", F.explode("__sh").alias("s"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # sizes scale with |docs| — not broadcastable at 100×; AQE picks the
    # strategy (it will still broadcast at test scale, where that's right)
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        # threshold on the EXACT ratio (the oracle's WHERE is unrounded;
        # rounding first would admit/reject boundary pairs differently)
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


DOC_SHINGLE_JACCARD_SQL = f"""
    WITH s AS ({DOCS_SHINGLED_SQL}),
    ex AS (SELECT doc_id, unnest(sh) AS sx FROM s),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM ex a JOIN ex b ON a.sx = b.sx AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (len(x.sh) + len(y.sh) - n_common), 4) AS jaccard
    FROM common
    JOIN s x ON x.doc_id = doc_a
    JOIN s y ON y.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / (len(x.sh) + len(y.sh) - n_common) >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH banding ---------------------------------------------------
# (h1, h2)    = the two 60-bit halves of md5(shingle), mod p = 2^31-1
# signature_i = min over shingles of (h1 + i*h2) mod p       (i = 0..63)
# band_j      = sig_{2j} * p + sig_{2j+1}  (collision-free pack, j = 0..31)
# candidates  = docs sharing any band key (equi-join, NOT cross join)
# confirmed   = candidates with exact shingle Jaccard >= threshold
#
# One string hash per (doc, shingle); the 64 streams are integer ops in
# codegen. Signature computation is per-row array math — NO shuffle; the
# only shuffle in the pairs query is the band-key equi-join, which is the
# 100 TB plan you want (shuffle keyed and bounded by band buckets).

def _signatures(
    docs_shingled: DataFrame,
    n_minhash: int = N_MINHASH,
    carry_shingles: bool = True,
    hash_fn: str = "md5",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """doc_id → s0..s63 minhash signature via explode + hash-aggregate.

    Explode-then-groupBy keeps everything in whole-stage codegen (array
    higher-order functions are interpreted in Spark — a per-row array
    formulation of the same math measured ~25× slower): ONE md5 per
    (doc, shingle) row, 64 KM streams as integer expressions inside a
    codegen'd HashAggregate with map-side PARTIAL aggregation — at 100 TB
    the shuffle carries only per-partition per-doc minima (docs are
    contiguous in their input split, so partials collapse to ~1 row/doc).
    Shingle-less docs get NULL signatures via the left join, matching the
    oracle's min-over-empty-list.

    ``hash_fn``: "md5" (DuckDB-oracle-matched, the registry default) or
    "xxh64" (two codegen'd xxhash64 streams — ~an order of magnitude less
    per-shingle CPU; for consumers with no SQL oracle, e.g. the streaming
    admission gate, whose correctness is carried by final-state equality).
    ``carry``: per-doc columns of ``docs_shingled`` to ride through the
    aggregate (F.first) instead of a separate join back."""
    ex = docs_shingled.select("doc_id", *carry, F.explode("__sh").alias("s"))
    if hash_fn == "xxh64":
        hashed = ex.select(
            "doc_id",
            *carry,
            F.pmod(F.xxhash64("s"), F.lit(MERSENNE_P)).alias("h1"),
            F.pmod(F.xxhash64("s", F.lit(1)), F.lit(MERSENNE_P)).alias("h2"),
        )
    else:
        h = _let(
            F.md5(F.col("s")),
            lambda d: F.struct(
                (F.conv(F.substring(d, 1, 15), 16, 10).cast("long") % MERSENNE_P).alias("h1"),
                (F.conv(F.substring(d, 17, 15), 16, 10).cast("long") % MERSENNE_P).alias("h2"),
            ),
        )
        hashed = ex.select(
            "doc_id", *carry, F.explode(F.array(h)).alias("__h")
        ).select("doc_id", *carry, "__h.h1", "__h.h2")
    aggs = [
        F.min((F.col("h1") + i * F.col("h2")) % MERSENNE_P).alias(f"s{i}")
        for i in range(n_minhash)
    ] + [F.first(c).alias(c) for c in carry]
    agg = hashed.groupBy("doc_id").agg(*aggs)
    if not carry_shingles:
        # no join back: the left side would RE-derive the shingle arrays
        # (norm+split+shingling a second time — measured at ~half the
        # whole signature job). Shingle-less docs are simply absent,
        # which is what signature-only consumers (cdc/neardup) filter
        # for anyway.
        return agg
    return docs_shingled.select("doc_id", "__sh").join(agg, "doc_id", "left")


def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(_with_shingles(_docs(spark, sf_dir))).drop("__sh")


_SIG_LIST_SQL = (
    f"list_transform(range(0, {N_MINHASH}), i -> list_min(list_transform(hp, "
    f"h -> (h[1] + i * h[2]) % {MERSENNE_P})))"
)
_HP_SQL = (
    f"list_transform(sh, x -> [('0x' || substr(md5(x), 1, 15))::BIGINT % {MERSENNE_P}, "
    f"('0x' || substr(md5(x), 17, 15))::BIGINT % {MERSENNE_P}])"
)
_SIG_TABLE_SQL = f"""
    SELECT doc_id, sh, {_SIG_LIST_SQL} AS sig
    FROM (SELECT doc_id, sh, {_HP_SQL} AS hp FROM ({DOCS_SHINGLED_SQL}))
"""

DOC_MINHASH_SIG_SQL = f"""
    SELECT doc_id,
           {", ".join(f"sig[{i + 1}] AS s{i}" for i in range(N_MINHASH))}
    FROM ({_SIG_TABLE_SQL})
"""


def doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _signatures(_with_shingles(_docs(spark, sf_dir)))
    bands = docs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bi"),
                        (F.col(f"s{2*j}") * MERSENNE_P + F.col(f"s{2*j+1}")).alias("bk"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.bi", "band.bk")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("__sh").alias("sha"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("__sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    uni = F.size(F.array_union("sha", "shb"))
    jac = inter.cast("double") / uni
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)  # exact, like the oracle WHERE
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


DOC_MINHASH_PAIRS_SQL = f"""
    WITH sig AS ({_SIG_TABLE_SQL}),
    bands AS (
        SELECT doc_id, i AS bi, sig[2*i + 1] * {MERSENNE_P} + sig[2*i + 2] AS bk
        FROM sig, unnest(range(0, {N_BANDS})) AS t(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
    FROM cand
    JOIN sig x ON x.doc_id = doc_a
    JOIN sig y ON y.doc_id = doc_b
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(x.sh, y.sh))) >= {JACCARD_THRESHOLD}
"""


# --- SimHash -----------------------------------------------------------------
# 16-bit simhash over distinct 3-word shingles: bit_j set iff the signed
# sum of shingle-hash bits is >= 0. Shingle hash = first 60 bits of md5
# (exact integer in both engines). Pairs are banded 4×4 bits: by
# pigeonhole a pair within hamming ≤ 3 agrees exactly on ≥ 1 band, so
# candidate generation has NO recall hole (round 1's single top-8-bit
# block missed any pair differing in a top bit) and is never an unblocked
# cross join. Shingles (not words) keep the fingerprint
# position-sensitive. At production corpus sizes you'd widen the sketch
# (64-bit simhash, 4×16-bit bands) so band buckets stay selective; the
# plan shape is identical.

def _word_hash(x: Column) -> Column:
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + 16 codegen'd signed bit-sums in one HashAggregate (one
    md5 per (doc, shingle); map-side partials make the shuffle ~1 row per
    doc — same scale rationale as _signatures)."""
    docs = _with_shingles(_docs(spark, sf_dir))
    ex = docs.select("doc_id", F.explode("__sh").alias("s")).select(
        "doc_id", _word_hash(F.col("s")).alias("__hw")
    )
    aggs = [
        F.sum(
            F.shiftright(F.col("__hw"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"__b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = ex.groupBy("doc_id").agg(*aggs)
    simhash = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"__b{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    # left join keeps empty-shingle docs (simhash 0, as in the oracle)
    return (
        docs.select("doc_id")
        .join(sums, "doc_id", "left")
        .select("doc_id", simhash.cast("long").alias("simhash"))
    )


def _simhash_bit_sql(j: int) -> str:
    return (
        f"CASE WHEN list_aggregate(list_transform(dw, x -> "
        f"((('0x' || substr(md5(x), 1, 15))::BIGINT >> {j}) & 1) * 2 - 1), 'sum') >= 0 "
        f"THEN {1 << j} ELSE 0 END"
    )


DOC_SIMHASH_SQL = f"""
    SELECT doc_id,
           CAST({" + ".join(_simhash_bit_sql(j) for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
    FROM (SELECT doc_id, sh AS dw FROM ({DOCS_SHINGLED_SQL}))
"""


def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_simhash(spark, sf_dir)
    bits_per_band = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << bits_per_band) - 1
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bi"),
                        F.shiftright(F.col("simhash"), bits_per_band * j)
                        .bitwiseAND(F.lit(mask))
                        .alias("bk"),
                    )
                    for j in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.bi", "band.bk")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )


_SIMHASH_BPB = SIMHASH_BITS // SIMHASH_BANDS
DOC_SIMHASH_PAIRS_SQL = f"""
    WITH sh AS ({DOC_SIMHASH_SQL}),
    bands AS (
        SELECT doc_id, simhash, i AS bi,
               (simhash >> ({_SIMHASH_BPB} * i)) & {(1 << _SIMHASH_BPB) - 1} AS bk
        FROM sh, unnest(range(0, {SIMHASH_BANDS})) AS t(i)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_MAX}
"""


# --- token counting: whitespace + BPE-ish regex tokenizer
#     (training-data-pipeline layer; char/4 estimate as the cheap column) ----

TOKEN_RE = r"[a-z0-9]+|[^a-z0-9\s]"


def doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(_norm(), F.lit(TOKEN_RE), 0)
    return (
        docs.select("lang", F.size(toks).alias("__n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").alias("sum_tokens"),
            F.round(F.avg(F.col("__n").cast("double")), 4).alias("avg_tokens"),
        )
    )


DOC_TOKEN_COUNT_SQL = f"""
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           round(avg(CAST(n AS DOUBLE)), 4) AS avg_tokens
    FROM (
        SELECT lang,
               len(regexp_extract_all({NORM_SQL}, '{TOKEN_RE}')) AS n
        FROM documents
    ) GROUP BY lang
"""


# --- R4: oversize-row guard with kept/dropped metrics
#     (/root/reference/parser/scamper1.go:22-25,106-110 — 90MB row cap;
#      /root/reference/parser/ndt.go:363-370 — oversize snaplog drop) --------

OVERSIZE_LIMIT_CHARS = 300


def doc_oversize_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter + disposition counts in ONE aggregate pass (conditional sums),
    mirroring the reference's drop-and-count-metric pattern."""
    docs = _docs(spark, sf_dir)
    keep = F.length("text") < OVERSIZE_LIMIT_CHARS
    return docs.groupBy("source").agg(
        F.count("*").alias("n_total"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum((~keep).cast("long")).alias("n_dropped"),
        F.max(F.length("text")).alias("max_chars"),
    )


DOC_OVERSIZE_GUARD_SQL = f"""
    SELECT source, count(*) AS n_total,
           CAST(sum(CASE WHEN length(text) < {OVERSIZE_LIMIT_CHARS} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN length(text) >= {OVERSIZE_LIMIT_CHARS} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           max(length(text)) AS max_chars
    FROM documents GROUP BY source
"""


# --- J2: header-declared field names ⋈ positional values (sidestream
#     K:-header zip, /root/reference/parser/ss.go:58-91,153-168) -------------

def doc_field_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 words of each doc positionally bound to declared field names
    f1..f4 — posexplode is the arrays_zip/ordinality idiom."""
    docs = _with_words(_docs(spark, sf_dir))
    head = F.slice(F.col("__words"), 1, 4)
    return (
        docs.select("doc_id", F.posexplode(head).alias("__pos", "word"))
        .select(
            "doc_id",
            F.concat(F.lit("f"), (F.col("__pos") + 1).cast("string")).alias("field"),
            "word",
        )
    )


DOC_FIELD_ZIP_SQL = f"""
    SELECT doc_id, 'f' || CAST(i AS VARCHAR) AS field, w[i] AS word
    FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents),
         unnest(generate_series(1, least(len(w), 4))) AS t(i)
"""


# --- duplicate-cluster canonicalization (connected components) ---------------
# The production step AFTER near-dup pair detection: group transitive
# duplicates into clusters and keep one canonical doc per cluster
# (cluster_id = min doc_id reachable through verified MinHash pairs).
# Spark: two interchangeable driver LOOPS whose every step is a
# distributed groupBy-min + equi-join (never a collect of row data),
# lineage truncated per step with localCheckpoint. Min-label propagation
# converges in O(component diameter) steps — the cheap loop for the
# shallow clusters real near-dup graphs produce (diameter is a CONTENT
# property: duplicates of one source, 2-4 hops, independent of corpus
# size). The large-star/small-star alternation (Kiveris et al.,
# "Connected Components in MapReduce and Beyond") at least halves every
# component's height per round, so it converges in O(log n) ROUNDS
# regardless of diameter — the property that survives an adversarially
# deep 100 TB dup chain. The default ("auto") runs the cheap loop with a
# small budget and falls back to star on exhaustion; both raise loudly
# rather than ship silently split components.


def _cc_star_labels(edges: DataFrame, max_steps: int) -> DataFrame:
    """Large-star/small-star alternation over a (src, dst) edge list
    (src != dst, deduped). Returns (doc_id, label=component min) for every
    node appearing in ``edges``. O(log n) rounds; each round is two
    (groupBy-min + join) passes keyed by node id."""
    F_ = F

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(
            e.select(F_.col("dst").alias("src"), F_.col("src").alias("dst"))
        )

    nodes = (
        _sym(edges).select(F_.col("src").alias("doc_id")).distinct()
        .localCheckpoint(eager=True)
    )

    def _digest(e: DataFrame):
        # order-insensitive set digest over the (distinct) edge rows;
        # bit_xor never overflows under ANSI mode
        r = e.agg(
            F_.count(F_.lit(1)).alias("n"),
            F_.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        return (int(r["n"]), int(r["h"] or 0))

    cur = edges.localCheckpoint(eager=True)
    prev_sig = None
    for _step in range(max_steps):
        # LARGE-STAR: every strictly-larger neighbor of u links to
        # min(Γ⁺(u)) — connects high nodes straight to the local minimum
        nb = _sym(cur)
        mins = nb.groupBy("src").agg(
            F_.least(F_.min("dst"), F_.first("src")).alias("m")
        )
        large = (
            nb.join(mins, "src")
            .filter(F_.col("dst") > F_.col("src"))
            .select(F_.col("dst").alias("src"), F_.col("m").alias("dst"))
            .filter(F_.col("src") != F_.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # SMALL-STAR: orient each edge big→small, link every small
        # neighbor (and the center) to the minimum — flattens the tails
        o = large.select(
            F_.greatest("src", "dst").alias("src"),
            F_.least("src", "dst").alias("dst"),
        )
        omins = o.groupBy("src").agg(F_.min("dst").alias("m"))
        small = (
            o.join(omins, "src")
            .select(
                F_.explode(
                    F_.array(
                        F_.struct(F_.col("dst").alias("src"), F_.col("m").alias("dst")),
                        F_.struct(F_.col("src").alias("src"), F_.col("m").alias("dst")),
                    )
                ).alias("e")
            )
            .select("e.src", "e.dst")
            .filter(F_.col("src") != F_.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _digest(small)
        cur = small
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components_labels(star): edge set still changing "
            f"after max_steps={max_steps} rounds — raise max_steps"
        )
    # at the fixpoint every component is a star: (child → root) edges;
    # roots appear only as dst and label themselves
    roots = cur.groupBy("src").agg(F_.min("dst").alias("label"))
    return nodes.join(
        roots, nodes.doc_id == roots.src, "left"
    ).select(
        "doc_id", F_.coalesce("label", F_.col("doc_id")).alias("label")
    )


def connected_components_labels(
    pairs: DataFrame,
    max_steps: int = 32,
    algorithm: str = "auto",
    quick_steps: int = 8,
) -> DataFrame:
    """(doc_a, doc_b) undirected pair list → (doc_id, label) where label is
    the min doc_id of the connected component.

    ``algorithm``: "auto" (default) runs min-label propagation for
    ``quick_steps`` — real near-dup graphs have diameter 2-4 (duplicates
    of one source), a CONTENT property that does not grow with corpus
    size, so the cheap loop almost always finishes — and falls back to
    the O(log n) large-star/small-star alternation only when a
    pathologically deep component exhausts it (the 100 TB boilerplate
    chain). "star" / "propagate" force one algorithm; see the block
    comment above for the plan-shape and convergence story."""
    if algorithm == "auto":
        try:
            return connected_components_labels(
                pairs, max_steps=quick_steps, algorithm="propagate"
            )
        except RuntimeError:
            return connected_components_labels(
                pairs, max_steps=max_steps, algorithm="star"
            )
    if algorithm == "star":
        edges0 = (
            pairs.toDF("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        return _cc_star_labels(edges0, max_steps)
    if algorithm != "propagate":
        raise ValueError(f"unknown CC algorithm {algorithm!r}")
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .localCheckpoint(eager=True)  # pairs plan may be wide; compute once
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _step in range(max_steps):
        nbr_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.withColumnRenamed("label", "old")
            .join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least("old", F.coalesce("nbr_min", "old")).alias("label"),
                "old",
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("doc_id", "label")
        if changed == 0:
            break
    else:
        # min-label propagation converges in O(component diameter) steps;
        # exhausting max_steps means some component's diameter exceeds it
        # and the returned labels would silently split that component.
        # At 100 TB a pathological dup chain (e.g. boilerplate pages each
        # near-duplicating the next) can be deep — fail loud so the
        # operator raises max_steps (or switches to large-star/small-star)
        # instead of shipping wrong dup groups.
        raise RuntimeError(
            f"connected_components_labels: {changed} labels still changing "
            f"after max_steps={max_steps}; component diameter exceeds the "
            f"step budget — raise max_steps"
        )
    return labels


def doc_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = doc_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_labels(pairs)
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        (F.coalesce("label", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


DOC_DUP_GROUPS_SQL = f"""
    WITH RECURSIVE pairs AS ({DOC_MINHASH_PAIRS_SQL}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT d.doc_id,
           coalesce(c.cl, d.doc_id) AS cluster_id,
           coalesce(c.cl, d.doc_id) = d.doc_id AS is_canonical
    FROM documents d
    LEFT JOIN (SELECT a, least(a, min(b)) AS cl FROM reach GROUP BY a) c
      ON c.a = d.doc_id
"""


# --- TF-IDF-style top terms per document -------------------------------------
# Two hash aggregates (term frequency per doc, then document frequency per
# term — both with map-side partials) + one join + per-doc top-k window.
# The df side scales with VOCABULARY, not corpus rows, so AQE picks its
# join strategy (broadcast while it fits, shuffle beyond). Ranking is by
# (tf DESC, df ASC, term ASC) — integer-deterministic, no float scores to
# drift between engines; consumers get (tf, df) and can apply any idf
# formula downstream.

N_TOP_TERMS = 3


def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    terms = docs.select("doc_id", F.explode("__words").alias("term")).filter(
        (F.col("term") != "") & ~F.col("term").isin(_STOPWORDS)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    rank = F.row_number().over(
        W.partitionBy("doc_id").orderBy(
            F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
        )
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", rank)
        .filter(F.col("rank") <= N_TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "rank")
    )


_STOP_LIST_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)

DOC_TOP_TERMS_SQL = f"""
    WITH t AS (
        SELECT doc_id, unnest(w) AS term
        FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM t
        WHERE term <> '' AND term NOT IN ({_STOP_LIST_SQL})
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
    SELECT doc_id, term, tf, df, rank FROM (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC)
                   AS rank
        FROM tf JOIN dfreq USING (term)
    ) WHERE rank <= {N_TOP_TERMS}
"""


# --- repetition ratio (quality signal) ----------------------------------------
# Boilerplate/spam detector used by training-data curation: how much of a
# document is repeated tokens. Reported in basis points via INTEGER-exact
# arithmetic — floor(10000 * repeated / total) — so the Spark plan and the
# DuckDB oracle agree bit-for-bit (a round() of a double ratio can split on
# half-even vs half-up at dyadic ties like 5/32; floor of the identical
# double cannot). Pure Catalyst expressions, map-only plan.

def doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    counts = _let(
        F.filter(F.col("__words"), lambda x: x != F.lit("")),
        lambda w: F.struct(
            F.size(w).alias("n"), F.size(F.array_distinct(w)).alias("d")
        ),
    )
    n, d = F.col("__t.n"), F.col("__t.d")
    return docs.select("doc_id", counts.alias("__t")).select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        d.cast("long").alias("n_distinct"),
        F.when(n == 0, F.lit(0).cast("long"))
        .otherwise(F.floor(F.lit(10000.0) * (n - d) / n))
        .alias("rep_bp"),
    )


DOC_REPETITION_SQL = f"""
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(d AS BIGINT) AS n_distinct,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE floor(10000.0 * (n - d) / n) END AS BIGINT) AS rep_bp
    FROM (
        SELECT doc_id, len(w) AS n, len(list_distinct(w)) AS d
        FROM (SELECT doc_id, list_filter({WORDS_SQL}, x -> x <> '') AS w
              FROM documents)
    )
"""


# --- incremental near-dup (new batch vs ingested corpus) ----------------------
# The ingestion-time dedup pattern a training-data pipeline actually runs:
# each arriving batch is checked against everything ALREADY in the lake
# before it is admitted — not an all-corpus recomputation. The corpus keeps
# a persisted MinHash band index (doc_id, band_idx, band_key) — here the
# base index is derived in-plan from the "previously ingested" split; in
# production it is a lake sidecar table appended per batch, exactly like
# the Bloom seen-set (etl_spark/cdc/bloom.py) but keyed on content bands
# instead of primary keys. Per-batch cost: signatures for NEW docs only +
# one band-key equi-join against the index (shuffle bounded by band
# buckets) + exact Jaccard verify of candidates. The corpus is never
# re-hashed and never cross-joined. Reference analog: gardener's
# key-based dedup of each incoming archive against base_tables
# (/root/reference/schema/README.md:6-10) — lifted from key-equality to
# content near-duplication.

NEW_DOC_PRED = "doc_id % 7 = 0"  # deterministic "this batch" split


def _sig_bands(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """signature columns s0..s{2*n_bands-1} → (doc_id, bi, bk) band rows
    (shared by the pair queries and cdc/neardup.NearDupIndex)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("bi"),
                        (F.col(f"s{2*j}") * MERSENNE_P + F.col(f"s{2*j+1}")).alias("bk"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.bi", "band.bk")


def doc_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_shingles(_docs(spark, sf_dir))
    is_new = F.expr(NEW_DOC_PRED)
    # persisted-index side: base corpus bands (computed once at ingest of
    # each past batch; recomputed here only because the demo has no lake)
    base = _signatures(docs.filter(~is_new))
    new = _signatures(docs.filter(is_new))
    # candidates = new-vs-base (index probe) + new-vs-new (in-batch self
    # dedup, deduped by doc_a < doc_b). Bands with NULL keys (shingle-less
    # docs) never match: equi-join drops NULLs.
    nb, bb = _sig_bands(new).alias("a"), _sig_bands(base).alias("b")
    vs_base = nb.join(
        bb, (F.col("a.bi") == F.col("b.bi")) & (F.col("a.bk") == F.col("b.bk"))
    ).select(F.col("a.doc_id").alias("doc_new"), F.col("b.doc_id").alias("doc_dup"))
    n2 = _sig_bands(new).alias("b")
    vs_new = nb.join(
        n2,
        (F.col("a.bi") == F.col("b.bi"))
        & (F.col("a.bk") == F.col("b.bk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_new"), F.col("b.doc_id").alias("doc_dup"))
    cand = vs_base.unionByName(vs_new).distinct()
    # exact verify: fetch shingle sets for candidate ids only
    x = docs.select(F.col("doc_id").alias("doc_new"), F.col("__sh").alias("sha"))
    y = docs.select(F.col("doc_id").alias("doc_dup"), F.col("__sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    uni = F.size(F.array_union("sha", "shb"))
    jac = inter.cast("double") / uni
    return (
        cand.join(x, "doc_new")
        .join(y, "doc_dup")
        .filter(jac >= JACCARD_THRESHOLD)  # exact, like the oracle WHERE
        .select("doc_new", "doc_dup", F.round(jac, 4).alias("jaccard"))
    )


DOC_INCREMENTAL_NEARDUP_SQL = f"""
    WITH sig AS ({_SIG_TABLE_SQL}),
    bands AS (
        SELECT doc_id, i AS bi, sig[2*i + 1] * {MERSENNE_P} + sig[2*i + 2] AS bk
        FROM sig, unnest(range(0, {N_BANDS})) AS t(i)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_dup
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bk = b.bk
         AND a.doc_id % 7 = 0
         AND (b.doc_id % 7 <> 0 OR a.doc_id < b.doc_id)
         AND a.doc_id <> b.doc_id
    )
    SELECT doc_new, doc_dup,
           round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
    FROM cand
    JOIN sig x ON x.doc_id = doc_new
    JOIN sig y ON y.doc_id = doc_dup
    WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(x.sh, y.sh))) >= {JACCARD_THRESHOLD}
"""


# --- persisted near-dup gate (batch-at-a-time admission) -----------------------
# Drives etl_spark/cdc/neardup.NearDupIndex exactly as an ingest pipeline
# would: documents arrive in 3 batches (doc_id % 3 = arrival order); each
# batch is checked against the index built from the PREVIOUS batches, then
# admitted. The oracle recomputes the same thing set-at-once: banded
# candidates where the left doc arrived strictly later (or same batch,
# smaller id), scored by the signature-agreement Jaccard estimate.

def doc_neardup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    from etl_spark.cdc.neardup import NearDupIndex

    work = tempfile.mkdtemp(prefix="etl_spark_ndgate_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = NearDupIndex(os.path.join(work, "ndi"))
    outs = []
    for b in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == b)
        outs.append(idx.check_and_add(spark, batch, threshold=JACCARD_THRESHOLD))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def doc_neardup_gate_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate sequence of ``doc_neardup_gate`` with a segment
    COMPACTION between admission rounds — the oracle-level proof that
    ``NearDupIndex.compact`` is a pure file merge: the per-round dup
    pairs (and hence the union the oracle checks) are identical to the
    uncompacted run. Earlier rounds' results are materialized before
    compacting because the commit after a compaction sweeps the absorbed
    segment files a lazy plan would still reference (the segment store
    keeps superseded files for one pointer generation only)."""
    import atexit
    import shutil
    import tempfile

    from etl_spark.cdc.neardup import NearDupIndex

    work = tempfile.mkdtemp(prefix="etl_spark_ndgatec_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    idx = NearDupIndex(os.path.join(work, "ndi"))
    outs = []
    for b in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == b)
        outs.append(
            idx.check_and_add(
                spark, batch, threshold=JACCARD_THRESHOLD
            ).localCheckpoint(eager=True)
        )
        if b == 1:
            c = idx.compact(spark, keep_last=0)
            assert c is not None and c["segments"] == 1, c
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


DOC_NEARDUP_GATE_SQL = f"""
    WITH sig AS ({_SIG_TABLE_SQL}),
    bands AS (
        SELECT doc_id, i AS bi, sig[2*i + 1] * {MERSENNE_P} + sig[2*i + 2] AS bk
        FROM sig, unnest(range(0, {N_BANDS})) AS t(i)
        WHERE sig[1] IS NOT NULL
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS dup_of
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bk = b.bk
         AND (a.doc_id % 3 > b.doc_id % 3
              OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id < b.doc_id))
    )
    SELECT cand.doc_id AS doc_id, cand.dup_of AS dup_of,
           len(list_filter(range(1, {N_MINHASH} + 1),
                           i -> x.sig[i] = y.sig[i])) / {N_MINHASH}.0 AS est_jaccard
    FROM cand
    JOIN sig x ON x.doc_id = cand.doc_id
    JOIN sig y ON y.doc_id = cand.dup_of
    WHERE len(list_filter(range(1, {N_MINHASH} + 1),
                          i -> x.sig[i] = y.sig[i])) / {N_MINHASH}.0 >= {JACCARD_THRESHOLD}
"""


# --- PII redaction -------------------------------------------------------------
# Pre-training scrub: find-and-mask emails and phone-like numbers, report
# per-doc match counts plus an md5 of the redacted text (content equality
# with the oracle, not just counts). The corpus is synthetic, so each doc
# is first salted with one deterministic email + phone derived from doc_id
# — the operator then has guaranteed work to do AND still redacts anything
# already in the text. Pure Catalyst regexp expressions (regexp_count /
# regexp_replace run in codegen); patterns avoid lookarounds/backrefs so
# Java regex (Spark) and RE2 (DuckDB) agree. Map-only plan: at 100 TB this
# is a scan-shaped pass with zero shuffle.

EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+"
PHONE_RE = "[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    salted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org or call 555-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit("."),
    )
    red = _let(
        salted,
        lambda s: F.struct(
            F.regexp_count(s, F.lit(EMAIL_RE)).alias("ne"),
            F.regexp_count(s, F.lit(PHONE_RE)).alias("np"),
            F.regexp_replace(
                F.regexp_replace(s, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
            ).alias("r"),
        ),
    )
    return docs.select("doc_id", red.alias("__r")).select(
        "doc_id",
        F.col("__r.ne").cast("long").alias("n_emails"),
        F.col("__r.np").cast("long").alias("n_phones"),
        F.length("__r.r").cast("long").alias("redacted_len"),
        F.md5("__r.r").alias("redacted_md5"),
    )


_SALTED_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.org "
    "or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.'"
)

DOC_PII_REDACT_SQL = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(s, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(s, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_replace(regexp_replace(s, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                   '{PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
               AS redacted_len,
           md5(regexp_replace(regexp_replace(s, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM (SELECT doc_id, {_SALTED_SQL} AS s FROM documents)
"""


# --- benchmark-contamination check ----------------------------------------------
# Eval-set decontamination: flag training docs that share any CONTAM_N-word
# n-gram with a held-out benchmark set (here: every 50th doc_id — in
# production the benchmark table is tiny and static). Plan shape for 100 TB:
# n-grams are hashed to 60-bit longs BEFORE the shuffle (8-byte keys, not
# strings), the benchmark side is distinct-tiny (AQE broadcasts it), and the
# per-doc hit count aggregates with map-side partials. A doc with no
# n-grams or no hits still appears (left join), so the output is a complete
# admission verdict per candidate doc.

CONTAM_N = 5
CONTAM_BENCH_MOD = 50


def _ngrams_of(w: Column, n: int) -> Column:
    """Distinct n-word grams of a let-bound words array (empty when the doc
    has fewer than n words; sequence() would DESCEND on a negative span)."""
    gram = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(gram)


def doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    is_bench = F.pmod(F.col("doc_id"), F.lit(CONTAM_BENCH_MOD)) == 0
    grams = (
        docs.withColumn("__ng", _let(F.split(_norm(), " "),
                                     lambda w: _ngrams_of(w, CONTAM_N)))
        .select("doc_id", is_bench.alias("__b"), F.explode("__ng").alias("g"))
        .select("doc_id", "__b", _word_hash(F.col("g")).alias("gh"))
    )
    bench = grams.filter(F.col("__b")).select("gh").distinct()
    hits = (
        grams.filter(~F.col("__b"))
        .join(bench, "gh")
        .groupBy("doc_id")
        .agg(F.countDistinct("gh").alias("n_hits"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


_NGRAM_LIST_SQL = (
    f"list_distinct(CASE WHEN len(w) >= {CONTAM_N} THEN "
    f"list_transform(range(1, len(w) - {CONTAM_N - 2}), "
    "i -> " + " || ' ' || ".join(f"w[i+{k}]" for k in range(CONTAM_N)) + ") "
    "ELSE [] END)"
)

DOC_CONTAMINATION_SQL = f"""
    WITH g AS (
        SELECT doc_id, doc_id % {CONTAM_BENCH_MOD} = 0 AS b,
               ('0x' || substr(md5(x), 1, 15))::BIGINT AS gh
        FROM (
            SELECT doc_id, unnest({_NGRAM_LIST_SQL}) AS x
            FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
        )
    ),
    bench AS (SELECT DISTINCT gh FROM g WHERE b),
    hits AS (
        SELECT doc_id, count(DISTINCT g.gh) AS n_hits
        FROM g JOIN bench USING (gh) WHERE NOT b GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
           coalesce(n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    WHERE d.doc_id % {CONTAM_BENCH_MOD} <> 0
"""


# --- temperature-scaled domain mix ----------------------------------------------
# Training-mix construction: sample per-language quotas proportional to
# n_lang^alpha with alpha = 0.5 (the standard multilingual up-weighting of
# low-resource domains), selection within a language by deterministic hash
# rank. All quota arithmetic is integer/floor-exact so Spark and the oracle
# agree at boundaries: s_l = floor(sqrt(n_l)), quota_l = floor(BUDGET * s_l
# / sum(s_l)) — both floors of correctly-rounded doubles of integer inputs.
# Shape: one tiny groupBy(lang) agg, its single-row total broadcast back,
# one row_number window per language partition. At 100 TB the window is the
# only wide stage and it shuffles exactly the candidate rows.

MIX_BUDGET = 200


def doc_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    counts = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("n_l"))
        .withColumn("s_l", F.floor(F.sqrt(F.col("n_l"))))
    )
    total = counts.agg(F.sum("s_l").alias("S"))
    quota = counts.crossJoin(F.broadcast(total)).select(
        "lang",
        F.floor(F.lit(MIX_BUDGET) * F.col("s_l") / F.col("S")).alias("quota"),
    )
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("mix_rank", F.row_number().over(w))
        .join(F.broadcast(quota), "lang")
        .filter(F.col("mix_rank") <= F.col("quota"))
        .select("doc_id", "lang", F.col("mix_rank").cast("long").alias("mix_rank"))
    )


DOC_DOMAIN_MIX_SQL = f"""
    WITH c AS (
        SELECT lang, floor(sqrt(count(*))) AS s_l FROM documents GROUP BY lang
    ),
    q AS (
        SELECT lang,
               floor({MIX_BUDGET} * s_l / (SELECT sum(s_l) FROM c)) AS quota
        FROM c
    ),
    r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS mix_rank
        FROM documents
    )
    SELECT doc_id, r.lang, CAST(mix_rank AS BIGINT) AS mix_rank
    FROM r JOIN q ON r.lang = q.lang
    WHERE mix_rank <= quota
"""


# --- training-sequence packing (concatenate-and-cut, GPT-style) ---------------
# A pretraining pipeline's last hop: documents are tokenized, concatenated
# per output shard, and cut into fixed-budget training sequences; a doc is
# attributed to the sequence containing its FIRST token. This formulation
# is a pure window plan — exclusive running sum of capped token counts,
# seq_id = floor(offset / budget) — so packing parallelizes per shard with
# ONE hash exchange on `shard` and an in-partition sort (no driver fold,
# no Python). At 100 TB the shard count is the training-shard count
# (thousands), keeping each sort partition-local and small. Reference
# analog: the per-archive row batching before table loads
# (/root/reference/etl/etl.go:20-35 buffer accounting).

PACK_BUDGET = 256      # tokens per packed training sequence
PACK_SHARDS = 8        # output shards (round-robin on doc_id; production
                       # would hash, a shared modulo keeps the oracle exact)


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.size(F.regexp_extract_all(_norm(), F.lit(TOKEN_RE), 0))
    base = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("int").alias("shard"),
        F.least(toks, F.lit(PACK_BUDGET)).cast("long").alias("tok_c"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("tok_c").over(w), F.lit(0).cast("long"))
    return (
        base.withColumn("seq_id", F.floor(offset / F.lit(PACK_BUDGET)))
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok_c").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


DOC_PACK_SEQUENCES_SQL = f"""
    WITH base AS (
        SELECT doc_id,
               CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
               CAST(least(len(regexp_extract_all({NORM_SQL}, '{TOKEN_RE}')),
                          {PACK_BUDGET}) AS BIGINT) AS tok_c
        FROM documents
    ),
    a AS (
        SELECT shard, doc_id, tok_c,
               CAST(floor(coalesce(sum(tok_c) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {PACK_BUDGET}) AS BIGINT) AS seq_id
        FROM base
    )
    SELECT shard, seq_id, count(*) AS n_docs,
           CAST(sum(tok_c) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc
    FROM a GROUP BY shard, seq_id
"""


# --- staged quality funnel (single-pass survivor counts) ----------------------
# Gopher/C4-style curation runs documents through an ORDERED rule chain
# and reports per-stage survivor counts. One scan computes every per-doc
# flag; the funnel is sums of prefix conjunctions — map-side partial
# aggregation, one 1-row exchange, then a 5-row explode. No second scan
# per stage (the naive formulation reads the corpus once per rule).
# Reference analog: the parser's accepted/failed/committed counter chain
# (/root/reference/etl/etl.go:20-35, metrics.go task counters).

FUNNEL_MIN_TOKENS = 30
FUNNEL_MAX_AWL = 6.0       # max mean word length
FUNNEL_MAX_REP = 0.55      # max (n - distinct)/n repetition ratio
FUNNEL_MIN_STOP = 0.02     # min stopword ratio


def doc_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    stats = _let(
        F.col("__words"),
        lambda w: F.struct(
            F.size(w).alias("n"),
            F.aggregate(
                F.transform(w, lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("sl"),
            F.size(F.array_distinct(w)).alias("d"),
            F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).alias("st"),
        ),
    )
    n, sl = F.col("__t.n"), F.col("__t.sl")
    d, st = F.col("__t.d"), F.col("__t.st")
    f1 = n >= FUNNEL_MIN_TOKENS
    f2 = f1 & (sl / n <= FUNNEL_MAX_AWL)
    f3 = f2 & ((n - d) / n < FUNNEL_MAX_REP)
    f4 = f3 & (st / n >= FUNNEL_MIN_STOP)
    agg = docs.select(F.col("doc_id"), stats.alias("__t")).agg(
        F.count("*").alias("total"),
        *[
            F.sum(f.cast("long")).alias(f"s{i}")
            for i, f in enumerate([f1, f2, f3, f4], start=1)
        ],
    )
    stages = [
        ("ingested", F.col("total"), F.lit(0).cast("long")),
        ("min_tokens", F.col("s1"), F.col("total") - F.col("s1")),
        ("avg_word_len", F.col("s2"), F.col("s1") - F.col("s2")),
        ("repetition", F.col("s3"), F.col("s2") - F.col("s3")),
        ("stopword_ratio", F.col("s4"), F.col("s3") - F.col("s4")),
    ]
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(name).alias("stage"),
                surv.cast("long").alias("survivors"),
                drop.cast("long").alias("dropped_here"),
            )
            for i, (name, surv, drop) in enumerate(stages)
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


DOC_QUALITY_FUNNEL_SQL = f"""
    WITH per AS (
        SELECT len(w) AS n,
               list_aggregate(list_transform(w, x -> length(x)), 'sum') AS sl,
               len(list_distinct(w)) AS d,
               len(list_filter(w, x -> list_contains({_STOPWORDS!r}, x))) AS st
        FROM (SELECT {WORDS_SQL} AS w FROM documents)
    ),
    f AS (
        SELECT n >= {FUNNEL_MIN_TOKENS} AS f1,
               n >= {FUNNEL_MIN_TOKENS} AND sl / n <= {FUNNEL_MAX_AWL} AS f2,
               n >= {FUNNEL_MIN_TOKENS} AND sl / n <= {FUNNEL_MAX_AWL}
                   AND (n - d) / CAST(n AS DOUBLE) < {FUNNEL_MAX_REP} AS f3,
               n >= {FUNNEL_MIN_TOKENS} AND sl / n <= {FUNNEL_MAX_AWL}
                   AND (n - d) / CAST(n AS DOUBLE) < {FUNNEL_MAX_REP}
                   AND st / CAST(n AS DOUBLE) >= {FUNNEL_MIN_STOP} AS f4
        FROM per
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS total,
               CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
               CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
               CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
        FROM f
    )
    SELECT * FROM (
        SELECT CAST(0 AS INT) AS stage_idx, 'ingested' AS stage,
               total AS survivors, CAST(0 AS BIGINT) AS dropped_here FROM agg
        UNION ALL SELECT 1, 'min_tokens', s1, total - s1 FROM agg
        UNION ALL SELECT 2, 'avg_word_len', s2, s1 - s2 FROM agg
        UNION ALL SELECT 3, 'repetition', s3, s2 - s3 FROM agg
        UNION ALL SELECT 4, 'stopword_ratio', s4, s3 - s4 FROM agg
    )
"""


# --- exact-substring duplication (rolling token windows) ----------------------
# Training-data exact-substring dedup (the suffix-array method's
# distributable approximation): every 8-token window of every document is
# a key; a window appearing in >= 2 documents marks BOTH docs' spans as
# duplicated text. Per doc: window count, duplicated-window count, and
# the duplication rate in basis points. Plan: per-row window generation
# (let-bound words, zero shuffle), explode, then ONE map-side-combinable
# groupBy on the window key + an equi-join back (AQE splits hot boilerplate
# windows). At 100 TB the join key would be md5(window) — 16 fixed bytes
# through the shuffle instead of the window text; the string key here keeps
# the oracle byte-identical. Reference analog: the dedup gardener joins
# incoming archives against base_tables on content keys
# (/root/reference/schema/README.md:6-10).

SUBSTR_WINDOW = 8      # tokens per rolling window


def doc_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    wlen = SUBSTR_WINDOW
    wins = _let(
        F.split(_norm(), " "),
        lambda w: F.when(
            F.size(w) >= wlen,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (wlen - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, wlen)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    e = docs.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("win")
    )
    c = e.groupBy("win").agg(F.count("*").alias("nd"))
    return (
        e.join(c, "win")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.floor(10000.0 * F.col("n_dup_windows") / F.col("n_windows"))
            .cast("long")
            .alias("dup_bp"),
        )
    )


DOC_SUBSTRING_DUP_SQL = f"""
    WITH e AS (
        SELECT DISTINCT doc_id, win FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(w) - {SUBSTR_WINDOW - 2}),
                       i -> array_to_string(w[i:i+{SUBSTR_WINDOW - 1}], ' ')
                   )) AS win
            FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
            WHERE len(w) >= {SUBSTR_WINDOW}
        )
    ),
    c AS (SELECT win, count(*) AS nd FROM e GROUP BY win)
    SELECT doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows,
           CAST(floor(10000.0 * sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)
                      / count(*)) AS BIGINT) AS dup_bp
    FROM e JOIN c USING (win)
    GROUP BY doc_id
"""


# --- end-to-end curation pipeline ---------------------------------------------
# The composition a training-data run actually executes, as ONE lazy plan:
# quality gate (the funnel's full rule chain) → exact dedup (keep the
# min doc_id per normalized-content hash) → GPT-style sequence packing of
# the survivors. Each stage is the registered operator's exact logic, so
# this both proves the operators compose and gives the planner the whole
# pipeline to optimize: one scan feeds the gate, the dedup groupBy is the
# only content shuffle, packing re-shards by output shard. At 100 TB the
# stages stay independent exchanges — no stage re-reads the corpus.

def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_words(_docs(spark, sf_dir))
    stats = _let(
        F.col("__words"),
        lambda w: F.struct(
            F.size(w).alias("n"),
            F.aggregate(
                F.transform(w, lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).alias("sl"),
            F.size(F.array_distinct(w)).alias("d"),
            F.size(F.filter(w, lambda x: x.isin(*_STOPWORDS))).alias("st"),
        ),
    )
    n, sl = F.col("__t.n"), F.col("__t.sl")
    d, st = F.col("__t.d"), F.col("__t.st")
    passed = (
        (n >= FUNNEL_MIN_TOKENS)
        & (sl / n <= FUNNEL_MAX_AWL)
        & ((n - d) / n < FUNNEL_MAX_REP)
        & (st / n >= FUNNEL_MIN_STOP)
    )
    gated = (
        docs.select("doc_id", F.md5(_norm()).alias("fp"), stats.alias("__t"))
        .filter(passed)
        .select("doc_id", "fp", F.col("__t.n").alias("n_tok"))
    )
    kept = (
        gated.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "n_tok"), "doc_id").alias("__k"))
        .select(F.col("__k.doc_id").alias("doc_id"), F.col("__k.n_tok").alias("n_tok"))
    )
    base = kept.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("int").alias("shard"),
        F.least(F.col("n_tok"), F.lit(PACK_BUDGET)).cast("long").alias("tok_c"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offset = F.coalesce(F.sum("tok_c").over(w), F.lit(0).cast("long"))
    return (
        base.withColumn("seq_id", F.floor(offset / F.lit(PACK_BUDGET)))
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok_c").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


DOC_CURATION_PIPELINE_SQL = f"""
    WITH per AS (
        SELECT doc_id, md5(nrm) AS fp, len(w) AS n,
               list_aggregate(list_transform(w, x -> length(x)), 'sum') AS sl,
               len(list_distinct(w)) AS d,
               len(list_filter(w, x -> list_contains({_STOPWORDS!r}, x))) AS st
        FROM (SELECT doc_id, {NORM_SQL} AS nrm, {WORDS_SQL} AS w FROM documents)
    ),
    gated AS (
        SELECT doc_id, fp, n AS n_tok FROM per
        WHERE n >= {FUNNEL_MIN_TOKENS} AND sl / n <= {FUNNEL_MAX_AWL}
          AND (n - d) / CAST(n AS DOUBLE) < {FUNNEL_MAX_REP}
          AND st / CAST(n AS DOUBLE) >= {FUNNEL_MIN_STOP}
    ),
    kept AS (
        SELECT arg_min(doc_id, doc_id) AS doc_id,
               arg_min(n_tok, doc_id) AS n_tok
        FROM gated GROUP BY fp
    ),
    base AS (
        SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
               CAST(least(n_tok, {PACK_BUDGET}) AS BIGINT) AS tok_c
        FROM kept
    ),
    a AS (
        SELECT shard, doc_id, tok_c,
               CAST(floor(coalesce(sum(tok_c) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / {PACK_BUDGET}) AS BIGINT) AS seq_id
        FROM base
    )
    SELECT shard, seq_id, count(*) AS n_docs,
           CAST(sum(tok_c) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc
    FROM a GROUP BY shard, seq_id
"""


# --- winnowing fingerprints (rolling k-gram hashes, window minima) ------------
# The document-fingerprinting algorithm behind MOSS (Schleimer, Wilkerson,
# Aiken, SIGMOD 2003): hash every k-gram, slide a window of W consecutive
# hashes, select each window's minimum — guaranteeing any shared substring
# of length >= k+W-1 contributes at least one common fingerprint, with a
# ~2/(W+1) selection density. Entirely per-row array math (let-bound
# lambdas, no shuffle at all): at 100 TB this is a map-only scan whose
# output (doc_id, a few selected longs) is the ONLY thing that moves —
# downstream dedup joins on the selected fingerprints exactly like the
# LSH band keys. The checksum folds the selected set mod 2^31-1 so the
# oracle compares exact integers.

WINNOW_K = 3      # words per k-gram
WINNOW_W = 4      # hashes per winnowing window


def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    p = F.lit(MERSENNE_P).cast("long")

    def hashes(w):
        grams = F.when(
            F.size(w) >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (WINNOW_K - 1)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(w, i),
                    F.element_at(w, i + 1),
                    F.element_at(w, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        )

    def mins_of(h):
        return (
            F.when(
                F.size(h) >= WINNOW_W,
                F.transform(
                    F.sequence(F.lit(1), F.size(h) - (WINNOW_W - 1)),
                    lambda j: F.array_min(F.slice(h, j, WINNOW_W)),
                ),
            )
            .when(F.size(h) > 0, F.array(F.array_min(h)))
            .otherwise(F.array().cast("array<long>"))
        )

    stats = _let(
        _let(F.split(_norm(), " "), hashes),
        lambda h: _let(
            mins_of(h),
            lambda m: F.struct(
                F.size(h).alias("ng"),
                F.size(F.array_distinct(m)).alias("nf"),
                F.aggregate(
                    F.transform(F.array_distinct(m), lambda x: x % p),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("cs"),
            ),
        ),
    )
    return docs.select("doc_id", stats.alias("__t")).select(
        "doc_id",
        F.col("__t.ng").cast("long").alias("n_grams"),
        F.col("__t.nf").cast("long").alias("n_fingerprints"),
        F.col("__t.cs").alias("fp_checksum"),
    )


DOC_WINNOW_SQL = f"""
    SELECT doc_id,
           CAST(len(h) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(m)) AS BIGINT) AS n_fingerprints,
           CAST(coalesce(list_aggregate(
               list_transform(list_distinct(m), x -> x % {MERSENNE_P}), 'sum'
           ), 0) AS BIGINT) AS fp_checksum
    FROM (
        SELECT doc_id, h,
               CASE WHEN len(h) >= {WINNOW_W}
                    THEN list_transform(
                        range(1, len(h) - {WINNOW_W - 2}),
                        j -> list_min(h[j:j+{WINNOW_W - 1}]))
                    WHEN len(h) > 0 THEN [list_min(h)]
                    ELSE [] END AS m
        FROM (
            SELECT doc_id,
                   list_transform(
                       CASE WHEN len(w) >= {WINNOW_K}
                            THEN list_transform(
                                range(1, len(w) - {WINNOW_K - 2}),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                            ELSE [] END,
                       g -> ('0x' || substr(md5(g), 1, 15))::BIGINT
                   ) AS h
            FROM (SELECT doc_id, {WORDS_SQL} AS w FROM documents)
        )
    )
"""


# --- canonical selection for duplicate clusters --------------------------------
# Composition: connected-component dup clusters (doc_dup_groups) × a
# deterministic quality key (token count, doc_id tiebreak) → per cluster
# keep the best document, drop the rest. This is the curation decision
# the cluster labels exist FOR: dedup keeps the longest member, not an
# arbitrary one. Plan: the CC labels (bounded iterative joins, see
# connected_components_labels) + ONE window over cluster_id — the window
# partitions by cluster, and clusters are tiny (near-dup groups), so no
# skew. Integer-only ranking: no float quality score to drift between
# engines.

def doc_dup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = doc_dup_groups(spark, sf_dir).select("doc_id", "cluster_id")
    ntok = _with_words(_docs(spark, sf_dir)).select(
        "doc_id", F.size("__words").alias("n_tokens")
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        groups.join(ntok, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_tokens", "keep")
    )


DOC_DUP_CANONICAL_SQL = f"""
    WITH groups AS ({DOC_DUP_GROUPS_SQL}),
    ntok AS (SELECT doc_id, len({WORDS_SQL}) AS n_tokens FROM documents)
    SELECT g.doc_id, g.cluster_id, n.n_tokens,
           row_number() OVER (PARTITION BY g.cluster_id
                              ORDER BY n.n_tokens DESC, g.doc_id ASC) = 1 AS keep
    FROM groups g JOIN ntok n ON g.doc_id = n.doc_id
"""


# --- cross-modal curation gate ---------------------------------------------------
# The id-aligned documents/embeddings tables (doc_id == vec_id) model a
# corpus with one embedding per document; the production dedup decision
# uses BOTH signals: drop a document if its TEXT is a non-canonical
# member of a MinHash dup cluster (doc_dup_canonical) OR its EMBEDDING
# has a cosine near-duplicate with a smaller id (emb_neardup_pairs —
# smaller id kept, mirroring the canonical rule). One output row per
# document with each signal separately visible — the downstream filter
# is `WHERE NOT drop_doc`, the audit is the two boolean columns. Plan:
# both signal subplans are the registry queries themselves (shared
# subtrees, bounded iterative CC + banded LSH), fused by two hash joins
# on doc_id. The two signals touch DISJOINT inputs (documents text vs
# embeddings vectors), so they are materialized CONCURRENTLY from two
# driver threads (Spark schedules jobs from separate threads in
# parallel; neither saturates the cluster alone) — the gate's wall is
# max(text leg, embedding leg) + two cheap hash joins, not their sum.

def doc_multimodal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from etl_spark.ops import simsearch

    docs = _docs(spark, sf_dir).select("doc_id")

    def _canon() -> DataFrame:
        return (
            doc_dup_canonical(spark, sf_dir)
            .select("doc_id", "keep")
            .localCheckpoint(eager=True)
        )

    def _sem() -> DataFrame:
        return (
            simsearch.emb_neardup_pairs(spark, sf_dir)
            .select(F.col("vec_b").alias("doc_id"))
            .distinct()
            .withColumn("__sem", F.lit(True))
            .localCheckpoint(eager=True)
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_canon, f_sem = pool.submit(_canon), pool.submit(_sem)
        canon, sem = f_canon.result(), f_sem.result()
    return (
        docs.join(canon, "doc_id")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            (~F.col("keep")).alias("text_dup"),
            F.coalesce("__sem", F.lit(False)).alias("semantic_dup"),
            (~F.col("keep") | F.coalesce("__sem", F.lit(False))).alias("drop_doc"),
        )
    )


def _multimodal_gate_sql() -> str:
    from etl_spark.ops.simsearch import EMB_NEARDUP_SQL

    return f"""
    WITH canon AS ({DOC_DUP_CANONICAL_SQL}),
    sem AS (SELECT DISTINCT vec_b AS doc_id FROM ({EMB_NEARDUP_SQL}))
    SELECT d.doc_id,
           NOT c.keep AS text_dup,
           s.doc_id IS NOT NULL AS semantic_dup,
           (NOT c.keep) OR s.doc_id IS NOT NULL AS drop_doc
    FROM documents d
    JOIN canon c ON d.doc_id = c.doc_id
    LEFT JOIN sem s ON d.doc_id = s.doc_id
"""


# --- BM25 keyword search (IEEE-deterministic ranking) ---------------------------
# Full BM25 (k1=1.2, b=0.75) over whitespace tokens for a fixed 3-term
# query, as two hash aggregations and ZERO joins against the corpus scan:
# per-doc term frequencies come from ONE conditional aggregation (the
# terms are query constants — no explode-and-join with a term table), and
# the corpus stats (N, total length, per-term document frequencies) are a
# single scalar aggregate broadcast into the scoring expression.
#
# Cross-engine float determinism: a naive BM25 disagrees between engines
# in the last ulp (ln() implementations differ; aggregate addition order
# is unspecified). Here every division takes EXACT-INTEGER operands
# (idf = (2(N-df)+1)/(2df+1), the rational Robertson idf with the ln
# dropped — a monotone transform, so ranking is unchanged; the tf term is
# scaled by 20*S to clear the k1/b denominators), each quotient is one
# correctly-rounded IEEE op, and the 3-term sum is a FIXED-parenthesized
# expression, not an aggregate — so Spark and DuckDB produce bit-identical
# doubles. Reference analog: the reference delegates search ranking to
# BigQuery (SURVEY §2.5); a standalone curation engine needs it in-plan.

BM25_TERMS = ("spark", "merge", "window")
BM25_TOP = 20


def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    )
    def _tf(term: str) -> Column:
        return F.size(F.filter("__toks", lambda t: t == F.lit(term)))

    per_doc = docs.select(
        "doc_id",
        F.size("__toks").alias("dl"),
        *[_tf(term).alias(f"tf{i}") for i, term in enumerate(BM25_TERMS)],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("s_len"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))

    def term_score(i: int) -> Column:
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        n, s, dl = F.col("n_docs"), F.col("s_len"), F.col("dl")
        idf = (2 * (n - df) + 1).cast("double") / (2 * df + 1).cast("double")
        # tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), k1=6/5, b=3/4, avgdl=S/N,
        # both sides scaled by 20*S to keep every operand an exact integer
        num = (tf * 44 * s).cast("double")
        den = (20 * s * tf + 6 * s + 18 * dl * n).cast("double")
        return idf * (num / den)

    score = (term_score(0) + term_score(1)) + term_score(2)
    return (
        scored.select("doc_id", score.alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP)
    )


def _bm25_sql() -> str:
    tf_cols = ",\n               ".join(
        f"len(list_filter(toks, t -> t = '{w}')) AS tf{i}"
        for i, w in enumerate(BM25_TERMS)
    )
    df_cols = ",\n               ".join(
        f"count(CASE WHEN tf{i} > 0 THEN 1 END) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    terms = [
        f"(CAST(2 * (n_docs - df{i}) + 1 AS DOUBLE) / CAST(2 * df{i} + 1 AS DOUBLE))"
        f" * (CAST(tf{i} * 44 * s_len AS DOUBLE)"
        f" / CAST(20 * s_len * tf{i} + 6 * s_len + 18 * dl * n_docs AS DOUBLE))"
        for i in range(len(BM25_TERMS))
    ]
    score = f"(({terms[0]} + {terms[1]}) + {terms[2]})"
    return f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    per_doc AS (
        SELECT doc_id, len(toks) AS dl,
               {tf_cols}
        FROM tok
    ),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS s_len,
               {df_cols}
        FROM per_doc
    )
    SELECT doc_id, {score} AS bm25
    FROM per_doc, stats
    WHERE {score} > 0
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP}
"""


DOC_BM25_SEARCH_SQL = _bm25_sql()


# --- RAG chunking: fixed-size overlapping windows ---------------------------
# The retrieval-side counterpart of doc_pack_sequences: split each
# document into CHUNK-char windows every STRIDE chars (25% overlap), the
# standard RAG pre-index transform. Pure generator-expression plan —
# sequence() builds the start offsets from the row itself, posexplode is
# Spark's native UDTF lowering, substring/md5 stay in codegen — so the
# operator is embarrassingly parallel: no shuffle at all until a
# downstream groupBy, and the explode factor (~len/STRIDE) is bounded
# per row, never per partition. chunk_idx is derived arithmetically from
# the offset (not the explode position) so engines agree without
# ordering assumptions.

CHUNK_CHARS, CHUNK_STRIDE = 128, 96


def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)),
                       F.lit(CHUNK_STRIDE))
        ).alias("start"),
        F.col("text"),
    )
    chunk = F.substring(F.col("text"), F.col("start"), CHUNK_CHARS)
    return out.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {CHUNK_STRIDE} AS INT)").alias("chunk_idx"),
        F.col("start"),
        F.length(chunk).alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


DOC_CHUNK_OVERLAP_SQL = f"""
    SELECT doc_id,
           CAST((start - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           start,
           length(substring(text, start, {CHUNK_CHARS})) AS chunk_len,
           md5(substring(text, start, {CHUNK_CHARS})) AS chunk_md5
    FROM (
        SELECT doc_id, text,
               CAST(unnest(generate_series(1, greatest(length(text), 1),
                                           {CHUNK_STRIDE})) AS BIGINT) AS start
        FROM documents
    )
"""
