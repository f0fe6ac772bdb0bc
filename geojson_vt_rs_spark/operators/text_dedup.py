"""Training-data pipeline operators over the documents/embeddings tables:
exact dedup, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine ANN,
language-ID, quality scoring, fingerprinting.

Everything is JVM-side column expressions (higher-order functions, no
Python UDFs); each builder has a DuckDB SQL twin computing byte-identical
values (md5-derived integer hashes, integer-ratio divisions), which is
what makes the driver's value-hash oracle pass exactly.

Scale notes: shingle/minhash work is per-row (narrow);  LSH banding turns
the O(n^2) similarity join into an equi-join on band keys; SimHash
blocking joins only within a prefix bucket.  All shuffles are on
hash-uniform keys.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------- MinHash

N_PERM = 8
N_BANDS = 4  # 2 rows per band


def _spark_shingles(col: str = "text") -> str:
    # char 5-grams sampled every 3 chars (dialect-shared except range/sequence)
    return f"transform(sequence(1, greatest(length({col})-4, 1), 3), i -> substr({col}, i, 5))"


def _duck_shingles(col: str = "text") -> str:
    return f"list_transform(range(1, greatest(length({col})-4, 1)+1, 3), i -> substr({col}, i, 5))"


# The 8 permutations take four INDEPENDENT 32-bit slices from each of
# TWO md5s per shingle (md5(s), md5('x'||s)) — 2 md5 calls instead of 8.
# (A Kirsch–Mitzenmacher a+p*b family was tried first: its per-shingle
# mins correlate across permutations, which doubled the band-collision
# candidate rate on the test corpus.  Independent md5 slices keep the
# candidate rate at the true-permutation baseline.)  The md5 arrays
# materialize into columns once (Catalyst does no CSE across HOF
# lambdas); each minhash is then a substr/conv fold.


def _spark_minhash_over(hx: str, p: int) -> str:
    off = 8 * (p % 4) + 1
    v = f"cast(conv(substr(h, {off}, 8), 16, 10) as bigint)"
    return f"array_min(transform({hx}, h -> {v}))"


def _duck_minhash_over(hx: str, p: int) -> str:
    off = 8 * (p % 4) + 1
    v = f"('0x' || substr(h, {off}, 8))::BIGINT"
    return f"list_min(list_transform({hx}, h -> {v}))"


def _minhash_batch(text, cache: dict):
    """Byte-identical numpy twin of the with_minhashes expression: same
    5-gram-every-3-chars shingles, same two md5s per shingle, same four
    32-bit hex slices per md5, per-permutation min.  One md5 pair per
    DISTINCT shingle via the per-batch cache."""
    import hashlib

    if not isinstance(text, str):
        return [None] * N_PERM
    # a min over the shingle multiset equals the min over the DISTINCT
    # shingle set — dedupe before hashing, so repeated shingles cost one
    # set-add instead of a dict probe + row append each
    uniq = {text[i : i + 5] for i in range(0, max(len(text) - 4, 1), 3)}
    rows = np.empty((len(uniq), N_PERM), dtype=np.int64)
    for j, s in enumerate(uniq):
        v = cache.get(s)
        if v is None:
            h1 = hashlib.md5(s.encode("utf-8")).hexdigest()
            h2 = hashlib.md5(("x" + s).encode("utf-8")).hexdigest()
            v = tuple(
                int(h[8 * k : 8 * k + 8], 16)
                for h in (h1, h2)
                for k in range(4)
            )
            cache[s] = v
        rows[j] = v
    return [int(m) for m in rows.min(axis=0)]


def with_minhashes(docs: DataFrame, impl: str = "batch") -> DataFrame:
    """doc_id + the 8 minhashes as ONE array column.

    ``impl="batch"`` (default): numpy mapInPandas kernel — one md5 pair
    per DISTINCT shingle and a single vectorized min, ~3x the expression
    path on the oracle corpus (the 8 interpreted substr/conv folds over
    hex-string arrays are the expr path's cost).  ``impl="expr"`` is the
    pure-JVM original: the two shingle md5 arrays materialize into their
    own columns, each minhash folds over one of them.  Outputs are
    byte-identical (asserted by tests), so the DuckDB oracles check
    either path — with the batch default they are a genuinely
    independent implementation of the same math."""
    if impl == "batch":
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("mhs", T.ArrayType(T.LongType())),
            ]
        )

        def kernel(batches):
            cache: dict = {}
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "mhs": [
                            _minhash_batch(t, cache) for t in pdf["text"]
                        ],
                    }
                )

        return docs.mapInPandas(kernel, schema=out_schema)
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")
    d = docs.withColumn(
        "__hx", F.expr(f"transform({_spark_shingles()}, s -> md5(s))")
    ).withColumn(
        "__hx2",
        F.expr(f"transform({_spark_shingles()}, s -> md5(concat('x', s)))"),
    )
    return d.select(
        "doc_id",
        F.array(
            *[
                F.expr(
                    _spark_minhash_over("__hx" if p < 4 else "__hx2", p)
                )
                for p in range(N_PERM)
            ]
        ).alias("mhs"),
    )


_BAND_CACHE: dict = {}  # semantic plan key -> persisted band table (max 1)


def _plan_key(df: DataFrame):
    """Semantic hash of the analyzed plan — stable across separate reads
    of the same source (canonicalized), so repeat calls over the same
    input reuse the cached band table instead of recomputing.  Returns
    None where the JVM plan is unreachable (e.g. Spark Connect).

    Caveat: the hash sees the PLAN, not the data — rewriting the same
    input path in place within a session leaves the key unchanged and
    would serve the stale persisted table.  Call ``clear_dedup_caches()``
    after such a rewrite."""
    try:
        return df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:
        return None


# every plan-keyed persisted-table cache in the package registers here
# so clear_dedup_caches() reaches all of them (importance.py adds its
# histogram cache on import)
_CACHE_REGISTRY: list = []


def clear_dedup_caches() -> None:
    """Unpersist and drop the plan-keyed persisted-table caches
    (minhash/winnow bands, importance histograms).  Needed after an
    in-place rewrite of a cached input path (the semantic plan key
    cannot observe data changes)."""
    for cache in (_BAND_CACHE, _WINNOW_CACHE, *_CACHE_REGISTRY):
        for k in list(cache):
            cache.pop(k).unpersist()


def minhash_band_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs: equal 2-row band signature -> same bucket ->
    pair.  Returns distinct (doc_a, doc_b) with the estimated similarity
    (fraction of equal minhashes over all permutations).  Bands come
    from an explode over the precomputed signature array, so the
    expensive hashing runs once per row per join side."""
    key = _plan_key(docs)
    bands = _BAND_CACHE.get(key) if key is not None else None
    if bands is None:
        mh = with_minhashes(docs)
        band_arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        ",",
                        F.col("mhs")[2 * b].cast("string"),
                        F.col("mhs")[2 * b + 1].cast("string"),
                    ).alias("bkey"),
                )
                for b in range(N_BANDS)
            ]
        )
        bands = mh.select(
            "doc_id", "mhs", F.explode(band_arr).alias("bb")
        ).select(
            "doc_id", "mhs",
            F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"),
        )
        # the self-join would otherwise evaluate the md5 signature pipeline
        # once per side; the band table is tiny (4 rows/doc of ints) so
        # cache it — both join sides then share the one materialization.
        # The cache is KEYED on the input plan (at most one entry): a call
        # over a different input evicts the old table, but same-input
        # callers (q_ngram_jaccard, warm bench loops) hit the cache even
        # when interleaved with other queries.
        bands = bands.persist()
        # track under key even when key is None (never SERVED stale — the
        # lookup above is key-guarded — but tracked so the next call
        # evicts it instead of leaking persisted tables).  Evict EVERY
        # existing entry, including one under this same key: when key is
        # None the lookup above missed by design, so an old None entry
        # would otherwise be overwritten still-persisted (ADVICE r4).
        for k in list(_BAND_CACHE):
            _BAND_CACHE.pop(k).unpersist()
        _BAND_CACHE[key] = bands
    a = bands.alias("a")
    bb = bands.alias("b")
    n_equal = sum(
        [
            (F.col("a.mhs")[p] == F.col("b.mhs")[p]).cast("int")
            for p in range(N_PERM)
        ],
        F.lit(0),
    )
    pairs = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            n_equal.alias("n_equal"),
        )
        .distinct()
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        (F.col("n_equal").cast("double") / float(N_PERM)).alias("est_sim"),
    )


def duck_minhash_pairs_sql() -> str:
    mh_cols = ", ".join(
        f"{_duck_minhash_over('hx' if p < 4 else 'hx2', p)} AS mh{p}"
        for p in range(N_PERM)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"concat(CAST(mh{2*b} AS VARCHAR), ',', CAST(mh{2*b+1} AS VARCHAR)) AS bkey, "
        + ", ".join(f"mh{p}" for p in range(N_PERM))
        + " FROM mh"
        for b in range(N_BANDS)
    )
    n_eq = " + ".join(
        f"(CASE WHEN a.mh{p} = b.mh{p} THEN 1 ELSE 0 END)" for p in range(N_PERM)
    )
    return (
        "WITH hxs AS (SELECT doc_id, "
        f"list_transform({_duck_shingles()}, s -> md5(s)) AS hx, "
        f"list_transform({_duck_shingles()}, s -> md5(concat('x', s))) AS hx2 "
        "FROM documents), "
        f"mh AS (SELECT doc_id, {mh_cols} FROM hxs), "
        f"bands AS ({bands}) "
        f"SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"CAST(({n_eq}) AS DOUBLE) / {float(N_PERM)} AS est_sim "
        f"FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey "
        f"AND a.doc_id < b.doc_id"
    )


# ---------------------------------------------------------------- SimHash

SIMHASH_BITS = 64  # production width: pair output stays sparse at any scale

# 64-bit md5-derived word hash, assembled WITHOUT shifts (DuckDB's << errors
# on overflow): hi 32 bits sign-adjusted into the BIGINT top half, lo 32 bits
# below.  Exact two's-complement value, identical in Spark / DuckDB / Python.
_MIN_BIGINT = "(-9223372036854775807 - 1)"


def _spark_word_hash64(w: str = "w") -> str:
    lo = f"cast(conv(substr(md5({w}), 1, 8), 16, 10) as bigint)"
    hi = f"cast(conv(substr(md5({w}), 9, 8), 16, 10) as bigint)"
    return (
        f"(({hi}) - (CASE WHEN ({hi}) >= 2147483648L THEN 4294967296L "
        f"ELSE 0L END)) * 4294967296L + ({lo})"
    )


def _duck_word_hash64(w: str = "w") -> str:
    lo = f"('0x' || substr(md5({w}), 1, 8))::BIGINT"
    hi = f"('0x' || substr(md5({w}), 9, 8))::BIGINT"
    return (
        f"(({hi}) - (CASE WHEN ({hi}) >= 2147483648 THEN 4294967296 "
        f"ELSE 0 END)) * 4294967296 + ({lo})"
    )


def _simhash_bit_terms(bits: int, hs: str, size_expr: str, spark: bool) -> list:
    """Per-bit majority-vote terms over a PRE-HASHED bigint array column —
    each fold is shifts/adds only (the md5 ran once per token upstream; the
    round-2 kernel re-ran md5 once per bit, 16x redundant hashing).  Bit 63
    contributes MIN_BIGINT (two's complement), summed exactly."""
    terms = []
    for j in range(bits):
        if spark:
            cnt = f"aggregate({hs}, 0L, (acc, h) -> acc + ((h >> {j}) & 1))"
        else:
            cnt = f"COALESCE(list_sum(list_transform({hs}, h -> (h >> {j}) & 1)), 0)"
        bit_val = _MIN_BIGINT if j == 63 else str(1 << j)
        terms.append(
            f"(CASE WHEN 2 * ({cnt}) > {size_expr} THEN {bit_val} ELSE 0 END)"
        )
    return terms


# ASCII \s only — Java regex \s == [ \t\n\x0b\f\r]; Python str.split()
# would ALSO split on Unicode whitespace (U+00A0, U+2000.., U+3000) and
# silently diverge from the expr/oracle tokenization (ADVICE r4).
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _batch_token_hashes(text, cache: dict):
    """(h64, lo32) int64 arrays of the doc's whitespace tokens — the
    batch twin of _spark_word_hash64 / the winnow lo-32 hash, one md5
    per DISTINCT token (something the JVM expression path cannot do).
    Tokenizes on ASCII whitespace ONLY, mirroring the JVM
    `split(trim(text), '\\\\s+')` semantics.

    Vectorized gather: np.unique over a fixed-width unicode array (a C
    sort) finds the distinct tokens; Python touches only those for the
    md5 (through the cross-doc ``cache``), and the per-token expansion
    is a fancy-index — the former per-token dict loop made highly
    repetitive long docs (15k tokens / 2k vocab) SLOWER than the JVM
    expr path (BENCH.md counter-shape, VERDICT r4 item 6)."""
    import hashlib

    tokens = (
        [t for t in _ASCII_WS.split(text) if t] if isinstance(text, str)
        else []
    )
    n = len(tokens)
    if n == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    # '\x01' sentinel suffix: numpy's fixed-width unicode storage strips
    # TRAILING NULs on item round-trip, so np.unique(['foo\x00','foo'])
    # would collapse both to 'foo' and hash the truncated token.  With a
    # non-NUL final char every token round-trips intact; strip exactly
    # the sentinel before hashing.
    uniq, inv = np.unique(
        np.asarray([t + "\x01" for t in tokens]), return_inverse=True
    )
    uh64 = np.empty(len(uniq), dtype=np.int64)
    ulo32 = np.empty(len(uniq), dtype=np.int64)
    for i, w in enumerate(uniq):
        w = str(w)[:-1]
        v = cache.get(w)
        if v is None:
            hx = hashlib.md5(w.encode("utf-8")).hexdigest()
            lo = int(hx[:8], 16)
            hi = int(hx[8:16], 16)
            v = (
                ((hi - (4294967296 if hi >= 2147483648 else 0)) << 32) + lo,
                lo,
            )
            cache[w] = v
        uh64[i] = v[0]
        ulo32[i] = v[1]
    return uh64[inv], ulo32[inv]


def _simhash_batch(h64: np.ndarray) -> int:
    """Exact majority-vote fold of _simhash_bit_terms, vectorized: the
    64 interpreted per-bit HOF folds (~1-10us/element each) become two
    numpy passes over the token-hash array."""
    n = len(h64)
    if n == 0:
        return 0
    # little-endian uint8 view + bitorder='little' puts column j at bit
    # j of the int64; unpackbits is ~8x lighter than a 64-wide int64
    # shift matrix (uint8 vs int64 intermediate)
    u8 = np.ascontiguousarray(h64.astype("<u8")).view(np.uint8).reshape(n, 8)
    cnt = np.unpackbits(u8, axis=1, bitorder="little").sum(
        axis=0, dtype=np.int64
    )
    uval = 0
    for j in np.nonzero(2 * cnt > n)[0]:
        uval |= 1 << int(j)
    return uval - (1 << 64) if uval >= (1 << 63) else uval


def with_simhash(docs: DataFrame, impl: str = "batch") -> DataFrame:
    """64-bit SimHash over whitespace tokens: bit j set when more than half
    the tokens have bit j of their (single, materialized) md5 hash set.

    ``impl="batch"`` (default): numpy mapInPandas kernel — unpackbits
    bit counts + one md5 per DISTINCT token, with an np.unique gather
    replacing the former per-token Python cache loop; 2-5x the
    expression path on BOTH corpus shapes (the repetitive-long-doc
    counter-shape where the old loop lost 1.4x now wins 5x, BENCH.md).
    ``impl="expr"`` is the pure-JVM original (folds the 64 bit counts
    over a once-materialized hash-array column — Catalyst does no CSE
    across HOF lambdas, so in-lining the hash per bit would rerun md5
    64x per token).  Outputs are byte-identical (asserted by tests incl.
    null text and non-ASCII whitespace), so the DuckDB oracle checks
    either path."""
    if impl == "batch":
        out_schema = T.StructType(
            list(docs.schema.fields)
            + [T.StructField("simhash", T.LongType())]
        )

        def kernel(batches):
            cache: dict = {}
            for pdf in batches:
                pdf = pdf.copy(deep=False)
                pdf["simhash"] = np.array(
                    [
                        _simhash_batch(_batch_token_hashes(t, cache)[0])
                        for t in pdf["text"]
                    ],
                    dtype=np.int64,
                )
                yield pdf

        return docs.mapInPandas(kernel, schema=out_schema)
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")
    words = "filter(split(trim(text), '\\\\s+'), w -> length(w) > 0)"
    hs = f"transform({words}, w -> {_spark_word_hash64()})"
    d = docs.withColumn("__hs", F.expr(hs))
    terms = _simhash_bit_terms(SIMHASH_BITS, "__hs", "size(__hs)", spark=True)
    return d.withColumn(
        "simhash", F.expr(" + ".join(terms)).cast("long")
    ).drop("__hs")


def simhash_near_pairs(docs: DataFrame, hamming_max: int = 3) -> DataFrame:
    """All pairs with simhash hamming distance <= hamming_max, found via
    pigeonhole multi-band blocking (complete — unlike the round-1 fixed
    8-bit-prefix block, whose 256 buckets both missed prefix-differing
    pairs and went quadratic within buckets at scale).  Plan: shuffled
    hash joins on (band, value) — see ann.hamming_near_pairs."""
    from geojson_vt_rs_spark.operators.ann import hamming_near_pairs

    s = with_simhash(docs).select("doc_id", "simhash")
    return hamming_near_pairs(
        s, "doc_id", "simhash", SIMHASH_BITS, hamming_max
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def duck_simhash_sql(table: str = "documents") -> str:
    """Full DuckDB twin SELECT (doc_id, simhash): materializes the per-token
    hash array in a CTE (mirroring with_simhash's one-md5-per-token shape),
    then folds the 64 majority votes over it."""
    words = _duck_words()
    hs = f"list_transform({words}, w -> {_duck_word_hash64()})"
    terms = _simhash_bit_terms(SIMHASH_BITS, "hs", "len(hs)", spark=False)
    return (
        f"WITH __hs AS (SELECT doc_id, {hs} AS hs FROM {table}) "
        f"SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS simhash "
        "FROM __hs"
    )


# --------------------------------------------------------- n-gram Jaccard


def ngram_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for LSH candidate pairs: explode distinct
    shingles, self-join on shingle within candidate pairs, integer ratio."""
    # NOTE (r6): materializing `sh` once (lazy localCheckpoint) was
    # A/B'd a WASH here — the three recomputed subtrees (both
    # intersection sides + sizes) execute concurrently on idle cores,
    # while the checkpoint serializes a ~4M-row storage write.  On a
    # busy cluster the 3x recompute wastes capacity; revisit with a
    # real-cluster measurement before changing.
    sh = docs.select(
        "doc_id", F.explode(F.expr(_spark_shingles())).alias("s")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    cand = minhash_band_pairs(docs).select("doc_a", "doc_b")
    inter = (
        cand.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sa.s") == F.col("sb.s")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def duck_ngram_jaccard_sql() -> str:
    return (
        f"WITH cand AS ({duck_minhash_pairs_sql()}), "
        f"sh AS (SELECT DISTINCT doc_id, unnest({_duck_shingles()}) AS s FROM documents), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1), "
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter "
        "  FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a "
        "  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s GROUP BY 1, 2) "
        "SELECT c.doc_a, c.doc_b, "
        "CAST(COALESCE(i.n_inter, 0) AS DOUBLE) / "
        "CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard "
        "FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b "
        "JOIN sizes za ON za.doc_id = c.doc_a JOIN sizes zb ON zb.doc_id = c.doc_b"
    )


# ------------------------------------------------------------- ANN cosine


def ann_topk(docs_embeddings: DataFrame, query_vec: list, k: int = 20) -> DataFrame:
    """Brute-force cosine top-k against a broadcast query vector —
    the exact baseline; the LSH-bucketed scale path shares the same
    scoring expression (see simhash blocking).  Scores rounded to 6
    decimals for cross-engine float stability; deterministic vec_id
    tie-break."""
    from geojson_vt_rs_spark.operators.ann import ranked_topk

    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = sum(float(v) * float(v) for v in query_vec) ** 0.5
    dot = F.expr(
        "aggregate(zip_with(emb, q, (a, b) -> a * b), 0D, (acc, v) -> acc + v)"
    )
    nrm = F.expr("sqrt(aggregate(transform(emb, a -> a * a), 0D, (acc, v) -> acc + v))")
    d = (
        docs_embeddings.select(
            "vec_id",
            F.expr("transform(embedding, v -> cast(v as double))").alias("emb"),
        )
        .withColumn("q", q)
        .withColumn("cos", F.round(dot / (nrm * F.lit(qn)), 6))
    )
    return ranked_topk(d, "vec_id", k)


# --------------------------------------------------------- text analysis

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]


def _spark_words() -> str:
    return "filter(split(trim(text), '\\\\s+'), w -> length(w) > 0)"


# DuckDB twin of _spark_words().  Java's \s (the engine side, and the
# batch kernels' _ASCII_WS) is the ASCII class [ \t\n\x0b\f\r]; RE2's \s
# OMITS \x0b (vertical tab), so a '\s+' DuckDB oracle would tokenize
# 'a\x0bb' as one word where Spark sees two.  The explicit class keeps
# both engines byte-identical.  ONE point of change — every oracle that
# tokenizes words must build on this helper.
_DUCK_WS = r"[ \t\n\x0b\f\r]+"


def _duck_words(col: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(trim({col}), '{_DUCK_WS}'), "
        "w -> length(w) > 0)"
    )


def with_text_features(docs: DataFrame) -> DataFrame:
    """Quality metrics: token count, stopword count, punct count, mean
    word length — integer counts (exact cross-engine)."""
    words = _spark_words()
    stop_set = ",".join(f"'{w}'" for w in STOPWORDS)
    return (
        docs.withColumn("n_tokens", F.expr(f"size({words})").cast("long"))
        .withColumn(
            "n_stop",
            F.expr(
                f"size(filter({words}, w -> array_contains(array({stop_set}), w)))"
            ).cast("long"),
        )
        .withColumn(
            "n_punct",
            (
                F.length("text")
                - F.length(F.regexp_replace(F.col("text"), r"[^\w\s]", ""))
            ).cast("long"),
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def duck_text_features_exprs() -> dict:
    words = _duck_words()
    stop_set = ", ".join(f"'{w}'" for w in STOPWORDS)
    return dict(
        n_tokens=f"len({words})",
        n_stop=f"len(list_filter({words}, w -> list_contains([{stop_set}], w)))",
        n_punct=r"length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))",
        n_chars="length(text)",
    )


# ------------------------------------------------ Winnowing fingerprints
# MOSS-style document fingerprinting (Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03):
# K-token-gram rolling polynomial hashes, then the minimum of each
# sliding window of W gram hashes.  Any shared token run of length
# >= W + K - 1 is GUARANTEED to share a fingerprint, so the fingerprint
# equi-join is a complete near-dup blocking — the rolling-hash member of
# the dedup family (exact md5 / minhash / simhash / winnowing).
# Everything is JVM SQL expressions with a byte-identical DuckDB twin.

WINNOW_K = 4  # tokens per gram (templates below hard-code 4 terms)
WINNOW_W = 4  # grams per winnowing window
WINNOW_B = 1009  # polynomial base: 2^32 * B^(K-1) < 2^63 -> no overflow
WINNOW_M = 2147483647  # modulus 2^31 - 1; every term is nonnegative


def _winnow_batch(lo32: np.ndarray) -> np.ndarray:
    """Byte-identical numpy twin of the with_winnow_fingerprints
    slice/zip_with chain: step-wise % M polynomial grams, pairwise-min
    window minima, sorted distinct.  Values stay within int64 at every
    step (th < 2^32, B = 1009: th*B < 2^42; (M-1)*B + th < 2^42)."""
    B, M = WINNOW_B, WINNOW_M
    a = lo32
    n = len(a)
    if n == 0:
        return np.zeros(1, dtype=np.int64)
    if n == 1:
        return (a[:1] % M).astype(np.int64)
    if n == 2:
        return np.array([(int(a[0]) * B + int(a[1])) % M], dtype=np.int64)
    if n == 3:
        return np.array(
            [(int(a[0]) * B * B + int(a[1]) * B + int(a[2])) % M],
            dtype=np.int64,
        )
    p2 = (a[:-1] * B + a[1:]) % M
    p3 = (p2[: n - 2] * B + a[2:]) % M
    g = (p3[: n - 3] * B + a[3:]) % M
    if n < 7:
        return np.array([g.min()], dtype=np.int64)
    w2 = np.minimum(g[:-1], g[1:])
    return np.unique(np.minimum(w2[:-2], w2[2:])).astype(np.int64)


def with_winnow_fingerprints(docs: DataFrame, impl: str = "batch") -> DataFrame:
    """Adds ``fingerprints`` (sorted distinct array<bigint>).

    ``impl="batch"`` (default) runs the byte-identical numpy
    mapInPandas kernel (_winnow_batch) — one md5 per DISTINCT token +
    vectorized rolling folds, 3-6x the JVM expression chain on both the
    oracle corpus and ~100KB documents.  ``impl="expr"`` keeps the pure
    JVM slice/zip_with chain (the formulation the DuckDB oracle SQL
    mirrors literally); outputs are byte-identical either way.

    Grams and window minima are built from whole-array ``slice`` +
    ``zip_with`` chains, NEVER ``element_at(col, i)`` inside a
    per-element lambda: after projection collapse Catalyst substitutes
    the backing array's full expression into each element access, so an
    indexed formulation re-runs the token-hash transform once per
    element — measured O(n^2) md5 per document (render hung).  The
    chained form bounds re-evaluation at a small constant regardless of
    how the optimizer collapses projections, and the step-wise ``% M``
    equals the flat polynomial mod M exactly (integer identity).  All
    slices are CASE-guarded in bounds, so the plan is ANSI-mode safe."""
    if impl == "batch":
        out_schema = T.StructType(
            list(docs.schema.fields)
            + [T.StructField("fingerprints", T.ArrayType(T.LongType()))]
        )

        def kernel(batches):
            cache: dict = {}
            for pdf in batches:
                pdf = pdf.copy(deep=False)
                pdf["fingerprints"] = [
                    _winnow_batch(_batch_token_hashes(t, cache)[1])
                    for t in pdf["text"]
                ]
                yield pdf

        # same parallelism boundary as the expr path (spreads a
        # single-file toy input across cores; the dedup join shuffles
        # anyway)
        return docs.repartition(F.col("doc_id")).mapInPandas(
            kernel, schema=out_schema
        )
    if impl != "expr":
        raise ValueError(f"unknown impl: {impl!r}")
    B, M = WINNOW_B, WINNOW_M
    B2 = B * B
    toks = "filter(split(trim(text), '\\\\s+'), w -> length(w) > 0)"
    th = (
        f"transform({toks}, "
        "w -> cast(conv(substr(md5(w), 1, 8), 16, 10) as bigint))"
    )
    d = docs.withColumn("__th", F.expr(th)).withColumn(
        "__n", F.expr("size(__th)")
    )
    # materialization boundary: the exchange pins __th (the only md5
    # work) as a REAL column, so every downstream reference is an
    # attribute read instead of a re-inlined hash transform when
    # projections collapse.  Also spreads a single-file toy input across
    # all cores; the dedup join shuffles anyway, so this adds one
    # bounded exchange of the (smaller-than-text) hash arrays.
    d = d.repartition(F.col("doc_id"))
    roll = f"(a, b) -> (a * {B}L + b) % {M}L"
    lmin = "(a, b) -> least(a, b)"
    # gram chain nested SINGLE-REFERENCE (p2 appears once inside p3,
    # p3 once inside gr): projection collapse then duplicates nothing
    # exponentially.  The earlier multi-withColumn version collapsed to
    # a 180 KB plan (4 textual copies of the whole chain) whose
    # analysis+codegen dominated runtime; this one stays ~3 KB.
    p2 = f"zip_with(slice(__th, 1, __n - 1), slice(__th, 2, __n - 1), {roll})"
    p3 = f"zip_with(slice({p2}, 1, __n - 2), slice(__th, 3, __n - 2), {roll})"
    gr = f"zip_with(slice({p3}, 1, __n - 3), slice(__th, 4, __n - 3), {roll})"
    # min over each window of 4 grams = pairwise mins, then mins of the
    # pair-mins 2 apart: fps(i) = min(w2(i), w2(i+2)), w2(i) = min(g_i, g_i+1);
    # g = __n - 3 grams.  w2/gr each appear TWICE (two shifted slices of
    # the same array) — 4 bounded copies of the cheap integer chain, the
    # md5 transform stays behind the exchange.
    w2 = (
        f"zip_with(slice(__gr, 1, __n - 4), slice(__gr, 2, __n - 4), {lmin})"
    )
    fps = (
        f"zip_with(slice(__w2, 1, __n - 6), slice(__w2, 3, __n - 6), {lmin})"
    ).replace("__w2", w2).replace("__gr", gr)
    small = (
        "CASE "
        f"WHEN __n = 3 THEN (element_at(__th, 1) * {B2}L"
        f" + element_at(__th, 2) * {B}L + element_at(__th, 3)) % {M}L "
        f"WHEN __n = 2 THEN (element_at(__th, 1) * {B}L"
        f" + element_at(__th, 2)) % {M}L "
        f"WHEN __n = 1 THEN element_at(__th, 1) % {M}L "
        "ELSE 0L END"
    )
    fingerprints = (
        # n >= 7: at least one full window of 4 grams; 4 <= n < 7: a
        # single window over all (< 4) grams; n < 4: small-n polynomial.
        # CASE keeps every slice length positive in its taken branch.
        f"CASE WHEN __n >= 7 THEN {fps} "
        f"WHEN __n >= 4 THEN array(array_min({gr})) "
        f"ELSE array({small}) END"
    )
    return d.withColumn(
        "fingerprints",
        F.expr(f"array_sort(array_distinct({fingerprints}))"),
    ).drop("__th", "__n")


def winnow_fingerprint_rows(docs: DataFrame, impl: str = "batch") -> DataFrame:
    """(doc_id, fp) rows — each doc's distinct winnowed fingerprints.

    explode_outer, NOT explode: a plain explode makes Catalyst infer a
    ``size(fingerprints) > 0`` filter and push it below the exchange,
    re-evaluating the ENTIRE fingerprint chain (md5 included) as a
    scan-side row filter — measured 4s -> 16s.  Fingerprint arrays are
    never empty (every branch yields >= 1 element), so the outer
    variant is row-identical; the null guard keeps the contract exact
    for null-text rows and cannot be pushed below the Generate (it
    references the generated column)."""
    return (
        with_winnow_fingerprints(docs, impl=impl)
        .select("doc_id", F.explode_outer("fingerprints").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )


_WINNOW_CACHE: dict = {}  # semantic plan key -> persisted fp table (max 1)


def winnow_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs sharing >= 1 winnowed fingerprint, with
    the shared-fingerprint count.  A plain equi-join on fp: shuffled hash
    join, no cross product — scale-safe blocking with the winnowing
    guarantee (any common run of WINNOW_W + WINNOW_K - 1 tokens hits).
    The fingerprint table is computed ONCE and persisted (plan-keyed
    cache, same pattern as the minhash band table) so the two join sides
    share it."""
    key = _plan_key(docs)
    fpt = _WINNOW_CACHE.get(key) if key is not None else None
    if fpt is None:
        fpt = winnow_fingerprint_rows(docs).persist()
        # same None-key eviction discipline as _BAND_CACHE: drop every
        # existing entry (incl. an old None entry) before storing
        for k in list(_WINNOW_CACHE):
            _WINNOW_CACHE.pop(k).unpersist()
        _WINNOW_CACHE[key] = fpt
    a = fpt.alias("a")
    b = fpt.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def duck_winnow_sql(table: str = "documents") -> str:
    """DuckDB twin of winnow_fingerprint_rows — same integer polynomial,
    same guards, 1-based list indexing on both sides."""
    B, M = WINNOW_B, WINNOW_M
    B2, B3 = B * B, B * B * B
    toks = _duck_words()
    th = f"list_transform({toks}, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT)"
    gram4 = (
        f"(th[i] * {B3} + th[i + 1] * {B2} + th[i + 2] * {B} + th[i + 3])"
        f" % {M}"
    )
    grams = (
        f"CASE WHEN n >= 4 THEN list_transform(range(1, n - 2), i -> {gram4}) "
        f"ELSE [CASE WHEN n = 3 THEN (th[1] * {B2} + th[2] * {B} + th[3]) % {M} "
        f"WHEN n = 2 THEN (th[1] * {B} + th[2]) % {M} "
        f"WHEN n = 1 THEN th[1] % {M} ELSE 0 END] END"
    )
    win = "least(gr[i], gr[i + 1], gr[i + 2], gr[i + 3])"
    fps = (
        f"CASE WHEN g >= 4 THEN list_transform(range(1, g - 2), i -> {win}) "
        "ELSE [list_min(gr)] END"
    )
    return (
        f"WITH w1 AS (SELECT doc_id, {th} AS th FROM {table}), "
        "w2 AS (SELECT doc_id, th, len(th) AS n FROM w1), "
        f"w3 AS (SELECT doc_id, {grams} AS gr FROM w2), "
        "w4 AS (SELECT doc_id, gr, len(gr) AS g FROM w3) "
        f"SELECT doc_id, unnest(list_sort(list_distinct({fps}))) AS fp FROM w4"
    )


def duck_winnow_pairs_sql(table: str = "documents") -> str:
    return (
        f"WITH fps AS ({duck_winnow_sql(table)}) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(*) AS BIGINT) AS n_shared "
        "FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2"
    )
