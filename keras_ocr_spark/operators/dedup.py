"""Deduplication operators for large-scale training-data pipelines.

Strategies over a ``(id, text)``-shaped DataFrame, all Spark-first:

- **exact**            — md5 groupBy (one shuffle on the hash, perfectly
                         distributable; at 100 TB this is the canonical
                         pre-pass before any near-dup work).
- **n-gram Jaccard**   — shingle -> explode -> equi-join on shingle ->
                         count-based Jaccard; the prefix-filter form
                         (:func:`prefix_filter_jaccard_pairs`) returns the
                         same pairs from far fewer candidates, and
                         :func:`containment_pairs` scores asymmetric
                         overlap the same way.
- **MinHash + LSH**    — per-row signatures (one Arrow kernel, zero
                         shuffle), band keys, equi-join on band ->
                         candidate pairs; optional exact-Jaccard
                         verification of candidates only (the scale path:
                         candidates ≪ all-pairs).
- **SimHash**          — per-row 64-bit fingerprints, near-dups =
                         small Hamming distance.
- **substring spans**  — corpus-repeated word k-grams mark duplicated
                         spans (:func:`substring_dup_stats`).

Each per-document kernel has one implementation, an Arrow iterator UDF
(``F.arrow_udf``) that reads its batch with ``to_pylist()`` and builds
its output from flat lists, so no pandas object sits on either side of
the boundary.
MinHash signatures and shingle sets come from ONE kernel
(:func:`_doc_udf`), one split per document. Each kernel is checked in
tests against an independent reference (the DuckDB oracle SQL or
``functions.hashing.simhash64_py``). All hashing is md5-based
(``functions.hashing``) so every operator has an exact DuckDB oracle.
Signature computation never shuffles; only the candidate-pair equi-joins
do, and those are plain hash joins Catalyst/AQE handle (skewed shingle
keys — stopword shingles — are filtered by a document-frequency cap
before the join, the classic hot-key guard).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Tuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import zipguard
from ..functions.hashing import shingles_expr, simhash_block_key_expr, words_expr
from ..functions.numeric import pround


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct text with the
    keeper (min id) and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def shingle_docs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """id -> distinct k-gram shingle rows (exploded)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_expr(words_expr(F.col(text_col)), k)).alias("shingle"),
    )


#: The per-document kernel's output: the MinHash signature (null when
#: the text is null or has fewer than k words, or when the kernel does
#: not hash) and the distinct word k-grams in first-occurrence order.
DOC_TYPE = T.StructType(
    [
        T.StructField("signature", T.ArrayType(T.StringType(), False), True),
        T.StructField("shingles", T.ArrayType(T.StringType(), False), False),
    ]
)

#: Byte budget of the per-task md5 digest memo. An entry costs its str
#: key (49 B + one byte per ASCII char), its bytes value (33 B + 16 or
#: 32) and its dict slot (40-80 B amortized over resizes): 160-180 B for
#: a typical 3-gram, measured with tracemalloc.
_MEMO_BYTES = 32 << 20
_MEMO_ENTRY_OVERHEAD = 136


def _doc_udf(k: int, n_hashes: int):
    """The per-document dedup kernel, an Arrow iterator UDF:
    text -> ``struct<signature, shingles>`` (:data:`DOC_TYPE`) from one
    split of the text.

    ``shingles`` is the array ``shingles_expr`` builds: the distinct
    word k-grams in first-occurrence order, empty for null text or
    fewer than ``k`` words. ``signature`` holds ``n_hashes`` MinHash
    components over those shingles (the scheme of
    :func:`minhash_signatures`); it is null when ``shingles`` is empty.
    ``n_hashes=0`` is the shingle-only kernel: it hashes nothing and
    every signature is null.

    The output is built from flat lists (one offsets and one values
    list per array column and batch), as ``operators.detect`` does."""
    if n_hashes > 16:
        raise ValueError("n_hashes > 16 needs more digest windows")
    doc_type = to_arrow_type(DOC_TYPE)
    sig_type = doc_type.field("signature").type
    sh_type = doc_type.field("shingles").type
    # n_hashes <= 8 fits in ONE md5 digest (8 u16 windows) — half the
    # hashing cost; the 16-hash scheme appends md5(s + '#') for windows
    # 9..16 (the fixed cross-engine layout the oracle mirrors).
    two_digests = n_hashes > 8
    width = 16 if two_digests else 8

    @F.arrow_udf(DOC_TYPE)
    def _doc(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()
        import numpy as np

        md5 = hashlib.md5
        # Per-task digest memo: shingles repeat across documents (Zipf),
        # so most md5 work is redundant; the byte budget bounds worker
        # memory on open-vocabulary corpora.
        memo: dict = {}
        memo_left = _MEMO_BYTES

        for texts in batches:
            sig_offsets, sig_values, sig_null = [0], [], []
            sh_offsets, sh_values = [0], []
            for t in texts.to_pylist():
                ws = t.split(" ") if t is not None else ()
                if len(ws) < k:
                    sh_offsets.append(len(sh_values))
                    sig_offsets.append(len(sig_values))
                    sig_null.append(True)
                    continue
                shingles = list(dict.fromkeys(" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)))
                sh_values += shingles
                sh_offsets.append(len(sh_values))
                if n_hashes:
                    digests = []
                    for s in shingles:
                        d = memo.get(s)
                        if d is None:
                            b = s.encode()
                            d = md5(b).digest() + md5(b + b"#").digest() if two_digests else md5(b).digest()
                            if memo_left > 0:
                                memo[s] = d
                                memo_left -= len(b) + len(d) + _MEMO_ENTRY_OVERHEAD
                        digests.append(d)
                    # 16 bytes per md5 digest = 8 big-endian uint16
                    # windows; the components are the first n_hashes.
                    # Lexicographic min over lowercase-hex 4-grams ==
                    # integer min over the big-endian uint16 of the
                    # same two bytes.
                    mins = np.frombuffer(b"".join(digests), dtype=">u2").reshape(-1, width)[:, :n_hashes].min(axis=0)
                    hexed = mins.astype(">u2").tobytes().hex()
                    sig_values += [hexed[i : i + 4] for i in range(0, 4 * n_hashes, 4)]
                sig_offsets.append(len(sig_values))
                sig_null.append(not n_hashes)
            signature = pa.ListArray.from_arrays(
                pa.array(sig_offsets, pa.int32()),
                pa.array(sig_values, pa.string()),
                type=sig_type,
                mask=pa.array(sig_null, pa.bool_()),
            )
            shingles_arr = pa.ListArray.from_arrays(
                pa.array(sh_offsets, pa.int32()), pa.array(sh_values, pa.string()), type=sh_type
            )
            yield pa.StructArray.from_arrays([signature, shingles_arr], fields=list(doc_type))

    return _doc


def _doc_frame(df: DataFrame, id_col: str, text_col: str, k: int, n_hashes: int) -> DataFrame:
    """(id, signature, shingles): one kernel evaluation per document."""
    doc = _doc_udf(k, n_hashes)(F.col(text_col))
    return df.select(F.col(id_col).alias("id"), doc.alias("_doc")).select(
        "id", F.col("_doc.signature").alias("signature"), F.col("_doc.shingles").alias("shingles")
    )


def shingle_docs_arrow(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(id, shingles): each document's distinct word k-grams as one
    array, in first-occurrence order — per document, the set of rows
    :func:`shingle_docs` explodes (pinned in tests); empty for null text
    or fewer than ``k`` words. A projection of the shingle-only
    per-document kernel, which hashes nothing. It is ~20x cheaper per
    doc than ``shingles_expr``'s interpreted higher-order chain
    (transform + slice + concat_ws + array_distinct, no whole-stage
    codegen, ~100us/doc). This is the frame :func:`verify_jaccard`
    takes; plans that must stay zero-Python keep :func:`shingle_docs`."""
    return _doc_frame(df, id_col, text_col, k, 0).select("id", "shingles")


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs before the self-join — the hot-key guard that keeps the join
    from exploding on boilerplate shingles at scale.
    """
    sh = shingle_docs(df, id_col, text_col, k)
    if max_shingle_df is not None:
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_shingles", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_shingles", "n_b"), "id_b")
        .withColumn("jaccard", F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", pround(F.col("jaccard"), 6).alias("jaccard"))
    )


def _rarity_coded_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(id, codes, n): each doc's distinct shingles as a SORTED int
    array, dictionary-encoded by global rarity (corpus df ASC, shingle
    ASC — the prefix-filter order).

    Plan shape: ONE exchange total on corpus-sized data (the map-side-
    combined vocabulary count — partials are vocab-sized, not
    row-sized); the (shingle, df) vocabulary is then collected, ranked
    on the driver and applied as a per-row Arrow kernel, so the corpus
    itself is never joined or re-grouped to attach codes (an earlier
    cut paid a broadcast join over every exploded shingle row plus a
    groupBy(id)+collect_list shuffle for the same result). The
    driver-side dictionary is vocabulary-bounded — the SAME assumption
    the broadcast-dict join made. At open-vocabulary 100 TB scale, rank
    with the distributed prefix scan (:func:`packing.prefix_sum` over a
    column of ones, bucketed monotonically in (df, shingle)) and attach
    the codes with a shuffle join on shingle; ranking in Spark while the
    codes still reach the driver would add three AQE stages (each a
    Spark job) to the build. The downstream prefix join is unchanged
    either way.
    """

    # Parallelism floor: this build and EVERYTHING downstream of it
    # (prefix explode, candidate join probe, verification) is map-side
    # relative to the coded frame, so its partitioning IS the query's
    # task count. A bench-scale table is a single parquet row group
    # (one scan partition) — without this spread the whole pair
    # pipeline runs on one core (measured 133s vs 23s at sf1.0). At
    # 100 TB the scan itself provides the partitions and this
    # repartition is a no-op-sized shuffle of (id, text).
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh_arr = (
        shingle_docs_arrow(spread, id_col, text_col, k)
        .select("id", F.col("shingles").alias("_sh"))
        .filter(F.size("_sh") > 0)
        .localCheckpoint(eager=False)
    )
    vocab = (
        sh_arr.select(F.explode("_sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    if max_shingle_df is not None:
        vocab = vocab.filter(F.col("_df") <= max_shingle_df)
    # The dictionary lands on the driver anyway, so rank it there: no
    # window, and Python orders str by code point, as Spark orders UTF-8.
    ranked = sorted((r["_df"], r["shingle"]) for r in vocab.collect())
    mapping = {shingle: code for code, (_df, shingle) in enumerate(ranked, start=1)}

    # containsNull=False matters: nullable array elements knock
    # array_intersect (and the explode/join chain) off the primitive
    # specialization onto the boxed generic path — measured 10x slower
    # verification with the default nullable element type.
    codes_type = T.ArrayType(T.IntegerType(), containsNull=False)
    codes_arrow = to_arrow_type(codes_type)

    @F.arrow_udf(codes_type)
    def _codes(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()
        m = mapping
        for shs in batches:
            offsets, values = [0], []
            for arr in shs.to_pylist():
                values += sorted(m[s] for s in arr if s in m)
                offsets.append(len(values))
            yield pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.array(values, pa.int32()),
                type=codes_arrow,
            )

    coded = sh_arr.select("id", _codes(F.col("_sh")).alias("codes"))
    return coded.select("id", "codes", F.size("codes").alias("n")).filter(F.col("n") > 0)


def _min_overlap(threshold: float, n: Column) -> Column:
    """ceil(threshold * n), the overlap a set of size ``n`` needs to
    reach ``threshold`` of it — the one place the prefix-filter bounds
    get it. Scaled down by 1e-12 before the ceil so that binary floating
    point cannot round it above the true integer (0.56 * 25 evaluates to
    14.000000000000002, whose ceil is 15: a prefix one too short, which
    drops qualifying pairs). Coming out low only admits extra
    candidates, and verification is exact."""
    return F.ceil(F.lit(float(threshold)) * n * F.lit(1 - 1e-12))


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with shingle CONTAINMENT >= threshold, where
    containment = |A ∩ B| / min(|A|, |B|) — the asymmetric-overlap
    signal Jaccard systematically misses: a short doc quoted wholesale
    inside a much longer one has Jaccard ≈ |A|/|B| (tiny) but
    containment ≈ 1. Deliberately NOT LSH-seeded: MinHash-band
    candidate recall is a function of Jaccard, so exactly the
    high-containment/low-Jaccard pairs this operator exists for would
    be the ones LSH drops. ``max_shingle_df`` drops shingles above that
    corpus df before anything else (same contract as
    :func:`ngram_jaccard_pairs`).

    EXACT result via PREFIX FILTERING in its overlap-join form (the
    PPJoin family bound for overlap >= ceil(t*min(|A|,|B|))): under the
    global rarity order, a qualifying pair's rarest common shingle must
    sit within the SMALLER side's prefix of length n - ceil(t*n) + 1
    AND within the larger side's first n_l - ceil(t*n_s) + 1 positions
    — so only prefix rows of the smaller side are joined against the
    (position-bounded) full rows, never full x full. A shingle with
    document frequency f contributes prefix_df(f) * f join rows instead
    of f², and hot shingles sort to the END of the order, out of every
    prefix — the hot-key guard is structural, not a cap. Candidates are
    verified with a per-pair ``array_intersect`` over the docs'
    dictionary-coded shingle arrays (attached by a broadcast of the
    ~0.2 KB/doc signature frame; at billions of docs drop the hint and
    let it run as a narrow equi-join), so the corpus text is never
    re-shingled per candidate. Result set pinned by the driver
    oracle's full inverted-index self-join.

    Output: (id_a, id_b, n_a, n_b, containment).
    """
    coded = _rarity_coded_docs(df, id_col, text_col, k, max_shingle_df).localCheckpoint(
        eager=False
    )
    plen = F.greatest(F.col("n") - _min_overlap(threshold, F.col("n")) + F.lit(1), F.lit(0))
    small = coded.select(
        F.col("id").alias("id_s"),
        F.col("n").alias("n_s"),
        F.explode(F.slice("codes", F.lit(1), plen)).alias("code"),
    )
    large = coded.select(
        F.col("id").alias("id_l"),
        F.col("n").alias("n_l"),
        F.posexplode("codes").alias("_pos0", "code"),
    )
    cands = (
        small.join(large, "code")
        .filter(
            (F.col("n_s") < F.col("n_l"))
            | ((F.col("n_s") == F.col("n_l")) & (F.col("id_s") < F.col("id_l")))
        )
        # positional bound: overlap <= n_l - pos_l + 1 must reach
        # ceil(t * n_s); the rarest common shingle's row satisfies it.
        .filter(F.col("_pos0") <= F.col("n_l") - _min_overlap(threshold, F.col("n_s")))
        .select(
            F.least("id_s", "id_l").alias("id_a"),
            F.greatest("id_s", "id_l").alias("id_b"),
        )
    )
    ca = coded.select(F.col("id").alias("id_a"), F.col("codes").alias("_ca"), F.col("n").alias("_na"))
    cb = coded.select(F.col("id").alias("id_b"), F.col("codes").alias("_cb"), F.col("n").alias("_nb"))
    return (
        cands.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_ca", "_cb")))
        .withColumn("containment", F.col("n_common") / F.least("_na", "_nb"))
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            F.col("_na").cast("long").alias("n_a"),
            F.col("_nb").cast("long").alias("n_b"),
            pround(F.col("containment"), 6).alias("containment"),
        )
        .distinct()
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= threshold via PREFIX FILTERING (the
    All-Pairs / PPJoin family: Chaudhuri et al. 2006, Bayardo et al.
    2007, Xiao et al. 2008) — same result set as
    :func:`ngram_jaccard_pairs`, far fewer candidates at high
    thresholds, and NO recall loss (unlike the MinHash-LSH path).

    Under a global shingle order (corpus frequency ASC, shingle ASC —
    rarest first maximizes pruning), two sets with Jaccard >= t must
    share a shingle inside BOTH of their prefixes of length
    ``n - ceil(t*n) + 1``: if all common shingles sat outside A's
    prefix, the intersection would fit in A's suffix of size
    ``ceil(t*|A|) - 1 < t*|A| <= |A∩B|`` — contradiction. So only
    prefix shingles are self-joined; full sets are touched only to
    verify candidates (:func:`verify_jaccard`). At t=0.7 the prefix is
    ~30% of each set, cutting candidate generation ~10x vs the full
    inverted-index join.

    Scale shape: one shingle-frequency groupBy, one per-doc ranking
    window (bounded by per-doc shingle counts), one prefix-only
    equi-join with a size-ratio guard (``t <= min(n)/max(n)``), then
    candidate-only verification. The hot-shingle problem solves itself:
    high-frequency shingles sort to the END of the global order and
    fall out of every prefix.
    """
    if not 0 < threshold <= 1:
        raise ValueError("threshold must be in (0, 1]")
    # Dictionary-code the shingles by global rarity once
    # (:func:`_rarity_coded_docs`) and cut lineage: prefixes, the
    # self-join, and verification all derive from the one narrow
    # (id, codes, n) frame instead of re-planning the two-exchange
    # ranking subtree per branch (the duplicated-subplan trap pinned in
    # tests/test_plan_shape.py). Candidates then join on INT codes, and
    # verification is a per-pair ``array_intersect`` over the coded
    # arrays (broadcast ~0.2 KB/doc signature frame) — the corpus text
    # is shingled exactly twice (vocab agg + probe), map-only, instead
    # of five times in the join-the-exploded-shingles form.
    coded = _rarity_coded_docs(df, id_col, text_col, k).localCheckpoint(eager=False)
    plen = F.greatest(F.col("n") - _min_overlap(threshold, F.col("n")) + F.lit(1), F.lit(0))
    prefix = coded.select(
        "id", "n", F.posexplode(F.slice("codes", F.lit(1), plen)).alias("_pos0", "code")
    )
    a = prefix.select(
        F.col("id").alias("id_a"), F.col("n").alias("na"), F.col("_pos0").alias("_pa"), "code"
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("n").alias("nb"), F.col("_pos0").alias("_pb"), "code"
    )
    cands = (
        a.join(b, "code")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (F.col("na") >= _min_overlap(threshold, F.col("nb")))
            & (F.col("nb") >= _min_overlap(threshold, F.col("na")))
        )
        # positional bound: past this collision the overlap can reach at
        # most min(na - pa, nb - pb) + 1, and a qualifying pair needs
        # overlap >= t*max(na, nb); the rarest common shingle's row
        # satisfies the bound, so no qualifying pair is lost.
        .filter(
            F.least(F.col("na") - F.col("_pa"), F.col("nb") - F.col("_pb"))
            >= _min_overlap(threshold, F.greatest("na", "nb"))
        )
        .select("id_a", "id_b")
    )
    ca = coded.select(F.col("id").alias("id_a"), F.col("codes").alias("_ca"), F.col("n").alias("_na"))
    cb = coded.select(F.col("id").alias("id_b"), F.col("codes").alias("_cb"), F.col("n").alias("_nb"))
    return (
        cands.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_ca", "_cb")))
        .withColumn("jaccard", F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", pround(F.col("jaccard"), 6).alias("jaccard"))
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """id -> array of n_hashes MinHash components: the ``signature``
    projection of the per-document kernel (:func:`_doc_udf`), for the
    documents with at least ``k`` words.

    Hashing scheme (the one the DuckDB oracles recompute; equality
    pinned in tests): md5 is the only hash bit-identical across Spark
    and DuckDB, so each shingle gets ONE 64-hex digest
    (md5(s) || md5(s + '#')) and the components are minima over
    DISJOINT 4-hex windows of it — 16 independent 16-bit hash functions
    for 2 md5 calls per shingle. ``n_hashes`` is therefore at most 16.
    The kernel hashes each shingle into one byte buffer and takes the
    per-window minima as a single numpy >u2 column-min (measured 2.1x
    over the per-window string-min loop; within 26% of the md5-only
    floor). Per-row map-only — NO shuffle at 100 TB.
    """
    # Null-signature rows are excluded by filtering the kernel's exact
    # null PREcondition on the raw input (text null / fewer than k
    # words), never on the UDF's own output: a filter on the kernel's
    # output gets pushed below an upstream exchange by Catalyst and
    # duplicates the ArrowEvalPython node — the plan then evaluates
    # every signature TWICE. tests/test_plan_shape.py pins python==1
    # for this subtree.
    eligible = df.filter(
        F.col(text_col).isNotNull()
        & (F.size(F.split(F.col(text_col), " ", -1)) >= k)
    )
    return _doc_frame(eligible, id_col, text_col, k, n_hashes).select("id", "signature")


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    return_dropped: bool = False,
) -> "DataFrame | tuple[DataFrame, DataFrame | None]":
    """MinHash LSH: band the signature, bucket on (band_idx, band_key),
    expand pairs within each bucket.

    Returns the candidate-pair DataFrame ``(id_a, id_b)``; with
    ``return_dropped=True`` returns a ``(pairs, dropped)`` TUPLE where
    ``dropped`` is the ``(band_idx, band_key, bucket_size)`` frame of
    cap-removed buckets, or ``None`` when ``max_bucket_size`` is None
    (no cap -> nothing can be dropped).

    ONE shuffle (the bucket groupBy) and the signature stage runs ONCE —
    a band self-join would recompute the whole expensive signature
    subtree for each side. Pair expansion is per-bucket array algebra;
    docs sharing >= 1 band become candidate pairs (a < b, distinct).

    ``max_bucket_size`` is the opt-in hot-bucket guard: a pathological
    band bucket (near-identical boilerplate that survived exact_dedup)
    would otherwise expand O(n^2) pairs inside one task. Buckets above
    the cap are dropped — at 10k members a bucket means ~50M pairs,
    which no downstream verifier wants anyway; run exact_dedup first to
    collapse byte-identical texts. The default is None (complete
    candidate set) so recall measurements are never silently lossy;
    scale pipelines opt in and, with ``return_dropped=True``, get a
    second DataFrame ``(band_idx, band_key, bucket_size)`` of the
    buckets the cap removed — count it, log it, or write it next to the
    pairs so the truncation is observable, never silent.
    """
    bands = band_projection(signatures, n_bands, rows_per_band)
    buckets = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    dropped = None
    if max_bucket_size is not None:
        if return_dropped:
            dropped = buckets.filter(F.size("ids") > max_bucket_size).select(
                "band_idx", "band_key", F.size("ids").alias("bucket_size")
            )
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice("ids", i + F.lit(2), F.size("ids")),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("pair")
    )
    result = pairs.select("pair.id_a", "pair.id_b").distinct()
    if return_dropped:
        return result, dropped
    return result


def verify_jaccard(
    cands: DataFrame,
    sh_left: DataFrame,
    sh_right: DataFrame,
    left_col: str,
    right_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of CANDIDATE pairs only (the scale
    path — only candidates are ever compared). ``sh_left`` /
    ``sh_right`` are per-document shingle-array frames
    ``(left_col|right_col, shingles)`` whose arrays hold distinct
    shingles (:func:`shingle_docs_arrow`). Each candidate pair is joined
    to its two documents' arrays and scored as
    ``|A ∩ B| / (|A| + |B| - |A ∩ B|)`` with
    ``size(array_intersect(a, b))``: one row per document crosses the
    joins, never one row per shingle, and no size aggregate is needed.
    A candidate must have at least one shingle on one side (every
    signed document does). Emits ``(left_col, right_col, jaccard)`` for
    pairs >= threshold."""
    left = sh_left.select(left_col, F.col("shingles").alias("_sh_l"))
    right = sh_right.select(right_col, F.col("shingles").alias("_sh_r"))
    # A document side whose size estimate is under the broadcast
    # threshold is planned as this join's build side. The hint keeps it
    # there: otherwise AQE swaps in the candidates whenever their shuffle
    # finishes first, and each variant is newly generated code. Over the
    # threshold there is no hint, so the join can still shuffle.
    limit = left.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if left._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() <= limit:
        left = F.broadcast(left)
    scored = cands.join(left, left_col).join(right, right_col).select(
        left_col,
        right_col,
        F.size("_sh_l").alias("_n_l"),
        F.size("_sh_r").alias("_n_r"),
        F.size(F.array_intersect("_sh_l", "_sh_r")).alias("_n_common"),
    )
    jaccard = F.col("_n_common") / (F.col("_n_l") + F.col("_n_r") - F.col("_n_common"))
    return scored.filter(jaccard >= threshold).select(left_col, right_col, pround(jaccard, 6).alias("jaccard"))


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Full MinHash-LSH near-dup flow: signatures -> candidates ->
    exact-Jaccard verification of candidates only (:func:`verify_jaccard`).
    The pipeline flow opts into the hot-bucket cap explicitly (scale
    guard); pass ``max_bucket_size=None`` for exhaustive recall work."""
    # ONE kernel evaluation per document feeds all three consumers (the
    # band projection and the two verification join sides): the lazy
    # localCheckpoint stops Catalyst re-planning the kernel subtree per
    # consumer. Behind it, filtering on the kernel's own output is safe.
    docs = _doc_frame(df, id_col, text_col, k, n_hashes).localCheckpoint(eager=False)
    sigs = docs.filter(F.col("signature").isNotNull()).select("id", "signature")
    cands = lsh_candidate_pairs(sigs, n_bands, n_hashes // n_bands, max_bucket_size=max_bucket_size)
    return verify_jaccard(
        cands,
        docs.select(F.col("id").alias("id_a"), "shingles"),
        docs.select(F.col("id").alias("id_b"), "shingles"),
        "id_a",
        "id_b",
        threshold,
    )


def simhash_fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """id -> 64-bit SimHash as a signed int64 (per-row, zero shuffle).

    Arrow iterator UDF; the pure-Python golden is
    ``functions.hashing.simhash64_py`` (equality asserted in tests, and
    the DuckDB oracle recomputes the same nibble arithmetic). 64 bits
    keeps the fingerprint space collision-safe at >=10^9 docs — the
    16-bit variant collided catastrophically past ~10^7."""

    @F.arrow_udf(T.LongType())
    def _sh(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()

        # Vectorized twin of functions.hashing.simhash64_py (the pure
        # kernel stays as the cross-engine golden; equality pinned in
        # tests): the naive form runs a 64-iteration Python vote loop
        # per word occurrence. Here each DISTINCT word's md5 prefix is
        # memoized per task (Zipf word distributions make the hit
        # rate ~1), and a doc's votes come from one numpy unpackbits +
        # column sum over its word-hash matrix.
        import numpy as np

        cache: dict = {}
        md5 = hashlib.md5

        def hash_of(w):
            v = cache.get(w)
            if v is None:
                v = int(md5(w.encode()).hexdigest()[:16], 16)
                cache[w] = v
            return v

        def one(t):
            if t is None:
                return None
            ws = t.split(" ")
            hs = np.array([hash_of(w) for w in ws], dtype=np.uint64)
            # bit b of each value -> column b (little-endian byte view +
            # little bitorder == (v >> b) & 1)
            bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            ones = bits.sum(axis=0, dtype=np.int64)
            pos = (2 * ones - len(ws)) > 0  # votes[b] > 0
            u = int(np.packbits(pos, bitorder="little").view(np.uint64)[0])
            return u - (1 << 64) if u >= (1 << 63) else u

        for texts in batches:
            yield pa.array([one(t) for t in texts.to_pylist()], pa.int64())

    return df.select(F.col(id_col).alias("id"), _sh(F.col(text_col)).alias("simhash"))


def simhash_blocks(fp: DataFrame, n_blocks: int = 4) -> DataFrame:
    """(id, simhash) -> one row per 16-bit block: (id, simhash, blk, key)."""
    return fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("blk"), simhash_block_key_expr(F.col("simhash"), j).alias("key"))
                    for j in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.blk", "b.key")


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_block_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance over 64-bit prints.

    Scale path: block the fingerprint into 4 disjoint 16-bit keys and
    equi-join on (blk, key) — by pigeonhole, two prints within Hamming
    d <= 3 differ in at most 3 of the 4 blocks, so they SHARE at least
    one block intact and are guaranteed to meet in the join (block count
    must be >= max_hamming + 1; enforced). The exact Hamming filter then
    runs on candidates only. ONE shuffle join keyed on 16-bit blocks —
    2^16 keys per block index; at petabyte scale widen to 8x8-bit blocks
    or pre-partition on the block key.

    ``max_block_bucket_size`` is the opt-in hot-bucket guard (same
    contract as :func:`lsh_candidate_pairs`): a (blk, key) bucket of n
    rows expands n^2 candidate rows inside the join, so at >=10^9 docs
    (>~15k rows per 16-bit key) cap it. Rows in over-cap buckets are
    anti-joined out of THAT block index only — a pair survives if any
    of its other shared blocks stays under the cap, so only pairs whose
    every common block is hot are lost (and a corpus like that should
    run exact_dedup first). Default None = exhaustive (oracle-exact).

    Fault-tolerance note (r4 ADVICE): the fingerprint frame is
    materialized via LAZY ``localCheckpoint`` — executor-local,
    unreplicated, and NOT recomputable: losing an executor mid-query
    fails the job instead of recomputing, and no handle survives to
    unpersist the blocks (Spark's ContextCleaner reclaims them). Fine
    for interactive/bench sessions (one int64 per doc); long-lived or
    fault-sensitive deployments should write the fingerprints with
    :func:`simhash_fingerprints` + ``.write`` (the persisted-store
    path) and join against that instead.
    """
    n_blocks = 4
    if max_hamming > n_blocks - 1:
        raise ValueError(f"max_hamming={max_hamming} needs >= {max_hamming + 1} blocks (pigeonhole); have {n_blocks}")
    # Materialize the per-doc fingerprints ONCE (lazy localCheckpoint)
    # before exploding into blocks and self-joining: both join branches
    # (and the optional hot-bucket count) would otherwise re-evaluate
    # the Arrow kernel — the same double-eval Catalyst pushdown waste
    # fixed for minhash (r3 What's wrong #2/#3). The
    # checkpointed frame is one (id, int64) row per doc — tiny relative
    # to the corpus; at full scale persist it as the fingerprint store.
    # Lifecycle: the blocks live until Spark's ContextCleaner collects
    # the RDD (no handle survives to unpersist a LAZY checkpoint of a
    # returned frame) — bounded here by the tiny row size; heavy
    # long-lived sessions should prefer the persisted-store path.
    fps = simhash_fingerprints(df, id_col, text_col).localCheckpoint(eager=False)
    blocks = simhash_blocks(fps, n_blocks)
    if max_block_bucket_size is not None:
        hot = (
            blocks.groupBy("blk", "key")
            .count()
            .filter(F.col("count") > max_block_bucket_size)
            .select("blk", "key")
        )
        blocks = blocks.join(F.broadcast(hot), ["blk", "key"], "left_anti")
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.key") == F.col("b.key")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", hamming.cast("long")).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def band_projection(
    signatures: DataFrame, n_bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(id, band_idx, band_key) — the LSH band index of a signature
    frame. This IS the structure an incremental pipeline persists
    (partitioned/bucketed by band_key) so tomorrow's batch joins
    against it without touching yesterday's text."""
    return signatures.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.md5(
                            F.concat_ws("|", F.slice("signature", i * rows_per_band + 1, rows_per_band))
                        ).alias("band_key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_key")


def incremental_dedup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Incremental-ingest near-dup check: which NEW documents collide
    with the EXISTING corpus — without ever pairing corpus docs against
    each other (the O(corpus²) work a full re-dedup would redo daily).

    Shape: the corpus side contributes only its band index (at scale,
    read back from the persisted :func:`band_projection` output — the
    text is never re-scanned) and its shingle arrays for the candidates;
    the new batch is small by construction, so its band index is
    ``F.broadcast`` into the probe join. ONE broadcast join finds
    candidates; exact Jaccard verifies candidates only. Emits
    ``(new_id, corpus_id, jaccard)``.
    """
    rows_per_band = n_hashes // n_bands
    corpus_bands = band_projection(
        minhash_signatures(corpus_docs, n_hashes, id_col, text_col, k), n_bands, rows_per_band
    )
    new_bands = band_projection(
        minhash_signatures(new_docs, n_hashes, id_col, text_col, k), n_bands, rows_per_band
    ).withColumnRenamed("id", "new_id")
    cands = (
        corpus_bands.join(F.broadcast(new_bands), ["band_idx", "band_key"])
        .select(F.col("new_id"), F.col("id").alias("corpus_id"))
        .distinct()
    )
    # No localCheckpoint, unlike :func:`minhash_dedup_pairs`: over a
    # repartitioned input it runs that exchange when the frame is
    # built, and this plan stays lazy until an action. So each side's
    # text goes through the kernel twice: hashing for its bands, and
    # shingle-only for the one verification join on its side.
    return verify_jaccard(
        cands,
        shingle_docs_arrow(new_docs, id_col, text_col, k).withColumnRenamed("id", "new_id"),
        shingle_docs_arrow(corpus_docs, id_col, text_col, k).withColumnRenamed("id", "corpus_id"),
        "new_id",
        "corpus_id",
        threshold,
    )


def substring_dup_stats(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT substring-span dedup stats — Arrow-kernel fast path.

    The Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" flow, shingle-hash formulation: every word k-gram
    occurring MORE THAN ONCE across the corpus (any doc, including
    repeats within one doc) marks its k-word span as duplicated; per doc
    we report the union size of duplicated spans and the text with
    those spans removed. Same rows as the ``dedup_substring`` DuckDB
    oracle (pinned in tests). An interpreted higher-order-function form
    (md5(concat_ws(slice)) per gram position plus O(n_words x n_spans)
    exists/filter span-coverage algebra) cost ~15s at sf1.0 once a
    consumer reads ``dup_frac``/``clean_text``, so gram digests come
    from one Arrow UDF (raw hashlib.md5 bytes — hex is an injective
    encoding, so equality classes match F.md5/DuckDB md5 exactly) and
    the span union + text rebuild from a second, struct-returning Arrow
    UDF; the corpus-wide duplicated-digest count is a window over one
    exchange on the digest (positions, not text, ride it), and each
    document collects its start list in one more exchange on the id.

    Output: (id, n_words, dup_words, dup_frac, clean_text) followed by
    the other columns of ``df`` except the text, one row per input doc;
    docs shorter than k words pass through untouched. The other columns
    ride the id exchange with the text, so a pipeline keeps each row's
    payload without joining the stats back by id.
    """

    # RAW 16-byte digests, not 32-char hex: the digest column exists
    # only for corpus-wide equality (groupBy + join-back), and hex is an
    # injective encoding of the bytes, so equality classes are identical
    # — at half the shuffle bytes and cheaper key compares.
    grams_type = T.ArrayType(T.BinaryType(), containsNull=False)
    grams_arrow = to_arrow_type(grams_type)

    @F.arrow_udf(grams_type)
    def _grams(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()
        md5 = hashlib.md5
        for texts in batches:
            offsets, digests = [0], []
            for t in texts.to_pylist():
                ws = t.split(" ") if t is not None else ()
                if len(ws) >= k:
                    digests += [md5(" ".join(ws[i : i + k]).encode()).digest() for i in range(len(ws) - k + 1)]
                offsets.append(len(digests))
            yield pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), pa.array(digests, pa.binary()), type=grams_arrow
            )

    stats_type = T.StructType(
        [
            T.StructField("n_words", T.LongType()),
            T.StructField("dup_words", T.LongType()),
            T.StructField("clean_text", T.StringType()),
        ]
    )
    stats_fields = list(to_arrow_type(stats_type))

    @F.arrow_udf(stats_type)
    def _span_stats(batches: Iterator[Tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        zipguard.install()
        for texts, starts in batches:
            n_out, dup_out, clean_out = [], [], []
            for t, ds in zip(texts.to_pylist(), starts.to_pylist()):
                if t is None:
                    # matches the oracle: len(split(NULL)) is NULL,
                    # dup_words falls through to 0, clean_text to ''.
                    n_out.append(None)
                    dup_out.append(0)
                    clean_out.append("")
                    continue
                ws = t.split(" ")
                n = len(ws)
                if not ds:
                    n_out.append(n)
                    dup_out.append(0)
                    clean_out.append(t)
                    continue
                cover = bytearray(n)
                for d in ds:  # 1-based span start covers words d..d+k-1
                    lo = d - 1
                    hi = min(n, lo + k)
                    if lo < n:
                        cover[lo:hi] = b"\x01" * (hi - lo)
                n_out.append(n)
                dup_out.append(sum(cover))
                clean_out.append(" ".join(w for w, c in zip(ws, cover) if not c))
            yield pa.StructArray.from_arrays(
                [pa.array(n_out, pa.int64()), pa.array(dup_out, pa.int64()), pa.array(clean_out, pa.string())],
                fields=stats_fields,
            )

    g = df.select(F.col(id_col).alias("id"), F.posexplode(_grams(F.col(text_col))).alias("pos0", "h")).select(
        "id", (F.col("pos0") + 1).alias("pos"), "h"
    )
    # The corpus-wide count is a window over the one ``h`` exchange, so
    # the gram rows are produced and shuffled once (a groupBy plus a
    # join back would evaluate ``_grams`` for each side).
    dup = (
        g.select("id", "pos", F.count(F.lit(1)).over(W.partitionBy("h")).alias("c"))
        .filter(F.col("c") > 1)
        .select("id", "pos")
    )
    # Each document collects its duplicated start positions in one more
    # exchange: its row and its dup-gram rows are co-grouped by id (a
    # groupBy plus a left join back costs an exchange per side), and
    # its other columns ride along.
    rest = [c for c in df.columns if c not in (id_col, text_col)]
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"), *rest, F.lit(True).alias("_row"))
    grouped = base.unionByName(dup, allowMissingColumns=True).select(
        "_row",
        "id",
        "_t",
        *rest,
        F.sort_array(F.collect_list("pos").over(W.partitionBy("id"))).alias("dup_starts"),
    )
    joined = grouped.filter(F.col("_row")).select(
        "id", _span_stats(F.col("_t"), F.col("dup_starts")).alias("_s"), *rest
    )
    n_words = F.col("_s.n_words")
    dup_words = F.col("_s.dup_words")
    return joined.select(
        "id",
        n_words.cast("long").alias("n_words"),
        F.when(n_words > 0, dup_words).otherwise(F.lit(0)).cast("long").alias("dup_words"),
        F.when(
            n_words > 0,
            F.floor(dup_words.cast("double") / n_words.cast("double") * 1000000 + F.lit(0.5))
            / 1000000,
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_frac"),
        F.col("_s.clean_text").alias("clean_text"),
        *rest,
    )
