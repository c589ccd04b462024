"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The corpus-scale generalization of the reference's suppression/dedup
family (SURVEY.md §2.7: `visited`-set merge dedup utility.py:768-783,
`duplicate_idx` containment dedup picodet_postprocess.py:272-296) —
re-expressed as the standard web-corpus near-dup stack.

Scale design (the part that matters at 10^12 rows):
- exact dedup = hash-groupBy: one shuffle on a 32-char key, partial
  aggregation map-side; never shuffles document bodies, only (hash, id).
- MinHash signatures are per-row column expressions (no shuffle); the
  LSH band join shuffles only (band_id, band_hash, doc_id) triples and
  joins within band buckets — the classic shingle→minhash→band→bucket
  join, O(candidate pairs) not O(n²).
- SimHash is a per-row 16-bit signature via explode + groupBy(doc_id):
  one shuffle of (doc_id, word) pairs; near-dup lookup is then a cheap
  band/bit-prefix join (not materialized here).
- n-gram Jaccard is the exact verifier run only on candidate pairs.

All expressions are engine-portable (md5 hex, integer arithmetic) so a
DuckDB oracle reproduces them bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from paddleocr_spark.functions.textstats import sql_shingles

N_MINHASH = 8          # signature length
LSH_BANDS = 4          # bands of N_MINHASH / LSH_BANDS rows each
SIMHASH_BITS = 16      # one md5 hex digit's parity per bit


def content_hash(text: Column) -> Column:
    """Exact-dedup key."""
    return F.md5(text)


def _conf_bytes(conf, key: str, default: int) -> int:
    v = conf.get(key, None)
    if v is None:
        return default
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    for suf, m in (("k", 1024), ("m", 1024**2), ("g", 1024**3)):
        if s.endswith(suf):
            s, mult = s[:-1], m
            break
    try:
        return int(float(s)) * mult
    except ValueError:
        return default


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Driver-side estimate of the file scan's partition count, from
    ``inputFiles()`` (a metadata call — no job, no RDD conversion) plus
    Spark's own FilePartition split arithmetic (maxPartitionBytes /
    openCostInBytes / bytesPerCore). None when the plan has no file
    leaves we can stat (a derived frame — already shuffled upstream)."""
    import math
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        p = urlparse(f).path if "://" in f or f.startswith("file:") else f
        try:
            sizes.append(os.path.getsize(p))
        except OSError:
            return None  # non-local fs: can't stat cheaply, don't guess
    conf = df.sparkSession.conf
    max_pb = _conf_bytes(conf, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    open_cost = _conf_bytes(conf, "spark.sql.files.openCostInBytes", 4 * 1024**2)
    par = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sizes) + open_cost * len(sizes)
    bytes_per_core = total / max(1, par)
    max_split = min(max_pb, max(open_cost, bytes_per_core))
    return max(1, int(math.ceil(total / max_split)))


def _spread(df: DataFrame, *cols: str) -> DataFrame:
    """Guard against a narrow scan serializing a heavy explode stage:
    when the input scan has fewer partitions than cores (the small-file
    / local-bench case), repartition on the id so the per-word work
    parallelizes. At corpus scale the scan already has >= cores
    partitions and this is a no-op — no extra shuffle.

    The width probe is driver-side plan arithmetic (inputFiles + the
    FilePartition split formula), NOT ``df.rdd.getNumPartitions()`` —
    the RDD conversion forced a full analysis/translation of the plan
    on every call, pure plan-build cost on the hot query path. Derived
    frames (no file leaves) are left alone: anything past a shuffle
    already has spark.sql.shuffle.partitions >= cores."""
    sc = df.sparkSession.sparkContext
    est = _estimated_scan_partitions(df)
    if est is not None and est < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism, *cols)
    return df


def with_minhash(df: DataFrame, text_col: str = "text", n: int = N_MINHASH) -> DataFrame:
    """Append sig0..sig{n-1}. The shingle array is bound to a column
    once (O(words) per row) and every signature reads it."""
    from paddleocr_spark.functions.textstats import with_shingles

    df = _spread(df)
    df = with_shingles(df, text_col, 3, "__sh")
    # one F.expr per signature instead of a lambda-HOF Column build:
    # python-side lambda construction costs ~0.1s of py4j traffic per
    # signature, which matters at production n (128) — the SQL text is
    # the same tree, parsed JVM-side
    df = df.select(
        "*",
        *[
            F.expr(
                f"array_min(transform(__sh, s -> md5(concat('{i}|', s))))"
            ).alias(f"sig{i}")
            for i in range(n)
        ],
    )
    return df.drop("__sh")


def band_hashes(n: int = N_MINHASH, bands: int = LSH_BANDS) -> list[Column]:
    """Band keys: md5 of the concatenated signature rows in each band."""
    rows_per = n // bands
    out = []
    for b in range(bands):
        cols = [F.col(f"sig{b * rows_per + r}") for r in range(rows_per)]
        out.append(F.md5(F.concat_ws("|", *cols)))
    return out


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_minhash: int = N_MINHASH,
    n_bands: int = LSH_BANDS,
) -> DataFrame:
    """shingle → minhash → band → bucket-join: distinct candidate pairs
    (a < b) whose signatures collide in at least one band.

    Parameterization: the defaults (8 signatures / 4 bands of 2 rows)
    are the oracle-scale miniature — cheap enough for a DuckDB mirror,
    but recall at jaccard 0.5 is only 1-(1-0.5²)⁴ ≈ 0.68. Production
    web-dedup wants e.g. n_minhash=128, n_bands=16 (8 rows/band:
    recall ≈ 0.996 at j=0.9 while j=0.3 pairs collide at < 0.2% —
    the steep S-curve). Candidate volume stays O(colliding pairs):
    the band join shuffles only (band_id, band_hash, id) triples,
    n_bands rows per document, never document bodies.
    """
    if n_minhash % n_bands:
        raise ValueError("n_minhash must be divisible by n_bands")
    sigs = with_minhash(df.select(id_col, text_col), text_col, n=n_minhash)
    bands = band_hashes(n_minhash, n_bands)
    banded = sigs.select(
        id_col,
        F.posexplode(F.array(*bands)).alias("band_id", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_id") == F.col(f"b.band_id"))
            & (F.col(f"a.band_hash") == F.col(f"b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash over distinct words.

    Bit j of a word = parity of hex digit j of md5(word); the document
    bit is the sign of sum(±1) over its distinct words. One shuffle of
    (id, word) pairs; partial aggregation does the heavy lifting.
    """
    w = _spread(df, id_col).select(
        id_col, F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("word")
    ).filter(F.col("word") != "")
    # one 15-digit parse + one single-digit parse instead of 16 convs;
    # parity of hex digit j == bit 4*(15-j) of the big-endian parse, so
    # the values (and the DuckDB mirror) are unchanged
    w = w.select(
        id_col,
        F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("bigint").alias("hh"),
        F.conv(F.substring(F.md5("word"), 16, 1), 16, 10).cast("int").alias("d16"),
    )
    contribs = [
        (
            (
                F.shiftright(F.col("hh"), (14 - j) * 4).bitwiseAND(F.lit(1)).cast("int")
                if j < 15
                else F.col("d16").bitwiseAND(F.lit(1))
            ) * 2 - 1
        ).alias(f"c{j}")
        for j in range(SIMHASH_BITS)
    ]
    w = w.select(id_col, *contribs)
    aggs = [F.sum(f"c{j}").alias(f"s{j}") for j in range(SIMHASH_BITS)]
    g = w.groupBy(id_col).agg(*aggs)
    bits = [
        F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(SIMHASH_BITS)
    ]
    acc = bits[0]
    for bexp in bits[1:]:
        acc = acc + bexp
    return g.select(id_col, acc.cast("bigint").alias("simhash"))


def jaccard_from_shingles(sa: Column, sb: Column) -> Column:
    """Exact Jaccard over two distinct-shingle array columns."""
    inter = F.size(F.array_intersect(sa, sb)).cast("double")
    union = F.size(F.array_union(sa, sb)).cast("double")
    return inter / union


# ---------------------------------------------------------------- SQL mirrors

def sql_minhash_sig(col: str, seed: int, k: int = 3) -> str:
    return (
        f"list_min(list_transform({sql_shingles(col, k)}, s -> md5('{seed}|' || s)))"
    )


def sql_simhash16(table: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    contribs = ", ".join(
        f"sum(('0x' || substr(md5(word), {j + 1}, 1))::int % 2 * 2 - 1) s{j}"
        for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(case when s{j} > 0 then {1 << j} else 0 end)" for j in range(SIMHASH_BITS)
    )
    return f"""
        with wx as (
          select {id_col}, unnest(list_distinct(str_split({text_col}, ' '))) word
          from {table}
        ), s as (
          select {id_col}, {contribs} from wx where word <> '' group by {id_col}
        )
        select {id_col}, cast({bits} as bigint) simhash from s
    """


# ------------------------------------------------------------------
# 64-bit SimHash, banded (the scale-correct formulation)
# ------------------------------------------------------------------
#
# The 16-bit variant above saturates at corpus scale (65k signature
# values) and its 8-bit-prefix pair join both over-pairs (256 buckets
# => O(n²/256)) and MISSES hamming<=3 pairs whose differing bits fall
# in the prefix byte. The fix is the classic banded SimHash lookup:
# a 64-bit signature split into 4 x 16-bit band tables. Pigeonhole:
# hamming(a,b) <= 3 differing bits can touch at most 3 of the 4 bands,
# so at least one band is IDENTICAL — a per-band equi-join has
# guaranteed recall for hamming<=3, and 65,536 values per band keeps
# bucket sizes bounded (expected bucket = n/65536 per band).

SIMHASH64_BITS = 64
SIMHASH64_BANDS = 4    # 4 bands x 16 bits each


def simhash64_bands(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash emitted as four 16-bit band values (b0..b3).

    Bit j (0..63) of a word's hash = bit (j % 2) of hex digit (j // 2)
    of md5(word) — 32 hex digits x the 2 low bits of each. The document
    bit is sign(sum(±1)) over its distinct words (ties -> 0, matching
    simhash16). Band k packs bits 16k..16k+15; this avoids signed-64
    overflow AND is exactly the layout the banded near-dup join needs:
    hamming(a,b) = Σ_k bit_count(xor(a.bk, b.bk)).

    The signature is a pure function of the row's own text, so it is
    computed entirely per-row with higher-order functions — one
    `transform` binds the two 15-hex-digit md5 parses per distinct word
    (60 usable bits each: bits 0..31 from the first half, 32..63 from
    the second), one `aggregate` folds a 64-wide ±1 vector. ZERO
    shuffle: the old explode→groupBy formulation paid a word-row
    aggregation for what is row-local arithmetic (~2× slower measured
    at sf0.1, and a needless exchange at corpus scale).
    """
    # The whole signature is ONE F.expr SQL string: the Column-API
    # formulation of the same tree cost ~9,200 py4j round trips (~2s of
    # DRIVER time per plan build, measured with cProfile) because every
    # per-bit operator is a JVM call; the SQL text parses JVM-side in
    # milliseconds. Execution plan and values are identical.
    bits_sql = ", ".join(
        "cast((cast(shiftright(x.{h}, {sh}) & 1 as int) * 2 - 1) as bigint)".format(
            h="h1" if j < 32 else "h2", sh=j % 32
        )
        for j in range(SIMHASH64_BITS)
    )
    s_sql = f"""
        aggregate(
          transform(
            filter(array_distinct(split({text_col}, ' ')), w -> w != ''),
            w -> named_struct(
              'h1', cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint),
              'h2', cast(conv(substring(md5(w), 17, 15), 16, 10) as bigint))),
          array_repeat(cast(0 as bigint), {SIMHASH64_BITS}),
          (acc, x) -> zip_with(acc, array({bits_sql}), (a, b) -> a + b))
    """
    g = _spread(df, id_col).select(id_col, F.expr(s_sql).alias("__s"))
    band_cols = []
    for b in range(SIMHASH64_BANDS):
        packed = " + ".join(
            f"(case when __s[{b * 16 + r}] > 0 then {1 << r} else 0 end)"
            for r in range(16)
        )
        band_cols.append(F.expr(f"cast({packed} as int)").alias(f"b{b}"))
    return g.select(id_col, *band_cols)


def banded_near_dup_pairs(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """The band join itself, over a (id, b0..b3) signature frame:
    per-band equi-join generates candidates (pigeonhole guarantees
    recall for hamming <= SIMHASH64_BANDS - 1), exact Hamming on the
    carried full signature verifies, distinct pairs. Split out so the
    recall guarantee is unit-testable on synthetic signatures."""
    banded = sigs.select(
        id_col, "b0", "b1", "b2", "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band_id", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    ham = None
    for k in range(SIMHASH64_BANDS):
        t = F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")))
        ham = t if ham is None else ham + t
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash64_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by banded 64-bit SimHash: signature -> per-band
    equi-join -> exact Hamming verify. Shuffles only (band_id,
    band_val, id, b0..b3) rows — O(candidates), never O(n²)."""
    return banded_near_dup_pairs(
        simhash64_bands(df, id_col, text_col), id_col, max_hamming
    )


def sql_simhash64_bands(
    table: str, id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB mirror of simhash64_bands (same bit layout, same ties)."""
    def _h(j: int) -> str:
        half = "substr(md5(word), 1, 15)" if j < 32 else "substr(md5(word), 17, 15)"
        return f"((('0x' || {half})::bigint >> {j % 32}) & 1)"

    contribs = ", ".join(
        f"sum({_h(j)} * 2 - 1) s{j}" for j in range(SIMHASH64_BITS)
    )
    bands = ", ".join(
        "cast("
        + " + ".join(
            f"(case when s{b * 16 + r} > 0 then {1 << r} else 0 end)"
            for r in range(16)
        )
        + f" as int) b{b}"
        for b in range(SIMHASH64_BANDS)
    )
    return f"""
        with wx64 as (
          select {id_col}, unnest(list_distinct(str_split({text_col}, ' '))) word
          from {table}
        ), s64 as (
          select {id_col}, {contribs} from wx64 where word <> '' group by {id_col}
        )
        select {id_col}, {bands} from s64
    """


def sql_simhash64_near_dup(
    table: str, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> str:
    """DuckDB mirror of simhash64_near_dup_pairs (same banded join)."""
    banded = " union all ".join(
        f"select {id_col}, {k} band_id, b{k} band_val, b0, b1, b2, b3 from sig64"
        for k in range(SIMHASH64_BANDS)
    )
    ham = " + ".join(f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(SIMHASH64_BANDS))
    return f"""
        with sig64 as ({sql_simhash64_bands(table, id_col, text_col)}),
        banded as ({banded})
        select distinct a.{id_col} id_a, b.{id_col} id_b,
               cast({ham} as int) hamming
        from banded a join banded b
          on a.band_id = b.band_id and a.band_val = b.band_val
         and a.{id_col} < b.{id_col}
        where {ham} <= {max_hamming}
    """


def exact_keepers(df: DataFrame, hash_col: str) -> DataFrame:
    """THE exact-dedup keeper rule, in one place (the full job, its
    ``--base`` incremental variant and the signature-store path share
    it): one row per ``hash_col`` value, the one with the minimum
    ``doc_id``. One shuffle of the input on the hash key."""
    w = Window.partitionBy(hash_col).orderBy("doc_id")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def cc_admitted_new_ids(
    cc: DataFrame, base_ids: DataFrame, broadcast_base: bool = False
) -> DataFrame:
    """THE incremental-admission rule, in one place (it previously
    lived copy-for-copy in jobs/dedup.py, here, and the store path —
    three sites a survivor-rule fix had to hit in lockstep): given CC
    labels ``(id, cluster_id)`` over base ∪ new and the base id set,
    a NEW doc survives iff its component contains no base member AND
    it is the component representative (min id == cluster_id).
    Returns the surviving new ids as ``doc_id``; docs that collided
    with nothing never enter ``cc`` and are the caller's to union in.

    ``broadcast_base=True`` when the base side is provably bounded
    (the store path's collision set — the day's matches, not the
    corpus); leave False when it is O(corpus)."""
    b = base_ids.select(
        F.col(base_ids.columns[0]).alias("id")
    ).distinct().withColumn("__is_base", F.lit(1))
    if broadcast_base:
        b = F.broadcast(b)
    labeled = cc.join(b, "id", "left")
    tainted = (
        labeled.groupBy("cluster_id")
        .agg(F.max(F.coalesce("__is_base", F.lit(0))).alias("has_base"))
        .filter(F.col("has_base") == 1)
        .select("cluster_id")
    )
    return (
        labeled.filter(F.col("__is_base").isNull())
        .join(tainted, "cluster_id", "left_anti")
        .filter(F.col("id") == F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"))
    )
