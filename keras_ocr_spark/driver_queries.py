"""Driver-contract query registry: name -> (spark_fn, duckdb_oracle_sql).

Every query reads ``documents``: extraction and decode, evaluation,
dedup, quality, language and token stats, PII, contamination, split,
mix, ``curate_corpus``, snapshots and the change feed. Each Spark
callable takes ``(spark, sf_dir)`` and returns a DataFrame; each oracle
is ANSI-ish SQL DuckDB runs on the same parquet table.

Column-name AND column-type discipline: every computed column is aliased
identically on both sides; integers are cast to BIGINT, floats rounded
and cast to DOUBLE, dates formatted as strings — so the driver's
order-insensitive value-hash compares apples to apples.

Cross-engine exactness notes:
- md5 hex strings are bit-identical in Spark and DuckDB — all dedup
  operators hash with md5 (see ``functions.hashing``);
- double arithmetic is IEEE and both engines evaluate array folds
  left-to-right, so folded doubles agree after an explicit
  cast-to-double; integer fixed point is used where float order could
  ever matter;
- timestamps compare as ``unix_micros`` BIGINTs (Spark session TZ is
  UTC; DuckDB parquet timestamps are naive UTC).
"""

from __future__ import annotations

import hashlib
import json
import shutil
from collections.abc import Callable
from pathlib import Path
from typing import Dict, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .functions.hashing import HEX
from .functions.numeric import pround
from .functions.text import STRIP_PATTERN, decode_expr
from .operators import curation as C
from .operators import dedup as D
from .operators import encode as E
from .operators import sketches as SK
from .operators import textstats as TS
from .plans.checkpoint import input_listing
from .plans.pipeline import curate, extract

# --------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, split for per-row expression-heavy work: the sf tables
    are single tiny files (1-2 scan partitions), which would starve a
    32-core run of parallelism for md5-heavy map ops. At 100 TB the scan
    itself provides the partitions and this repartition disappears."""
    spark_parallelism = spark.sparkContext.defaultParallelism
    return _t(spark, sf_dir, "documents").repartition(spark_parallelism)


def _b(col):
    return F.col(col).cast("long").alias(col)


def _staging_path(sf_dir: str, name: str, *tables: str) -> str:
    """Temp path at which a query stages a copy of ``tables`` from
    ``sf_dir``: ``/tmp/{name}_{md5(sf_dir)}/{md5(listing)}``. The listing
    (file names, sizes, mtimes) of those tables keys the copy, so a
    rewritten input is staged afresh instead of being answered from an
    earlier build's copy. Staging afresh deletes everything else under
    the root, directories and plain files alike: one copy per
    ``(sf_dir, name)`` remains."""
    listing = [input_listing(f"{sf_dir}/{t}.parquet") for t in tables]
    root = Path(f"/tmp/{name}_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}")
    path = root / hashlib.md5(json.dumps(listing).encode()).hexdigest()[:12]
    if not path.exists() and root.is_dir():
        for stale in root.iterdir():
            if stale.is_dir():
                shutil.rmtree(stale, ignore_errors=True)
            else:
                stale.unlink(missing_ok=True)
    return str(path)


QUERIES: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn

    return deco


# ==========================================================================
# 1. Extraction operators (the flagship, SQL-expressible pieces)
# ==========================================================================


def _decode_sql(col: str) -> str:
    """DuckDB twin of ``functions.text.decode_expr``, step for step; the
    final strip anchors the same explicit ``str.isspace()`` class (RE2
    reads its ``\\x{..}`` escapes as Java regex does). The tag strip
    needs no split at the last ``>``: RE2 is linear on an unclosed
    ``<``, where Java's backtracking regex is not."""
    decoded = (
        "replace(replace(replace(replace(replace(replace("
        f"regexp_replace({col}, '<[^>]*>', '', 'g'),"
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&')"
    )
    return f"regexp_replace(regexp_replace({decoded}, '[ \t\r\n]+', ' ', 'g'), '{STRIP_PATTERN}', '', 'g')"


@register(
    "decode_chain",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {_decode_sql("'<div><p>' || text || '</p><br/></div>'")} AS clean
    FROM documents
    """,
)
def q_decode_chain(spark, sf_dir):
    """The CTC-analog span decode chain (recognition.py:169-184
    semantics) as pure JVM built-ins over synthesized markup."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(F.lit("<div><p>"), F.col("text"), F.lit("</p><br/></div>"))
    return docs.select(_b("doc_id"), decode_expr(html).alias("clean"))


@register(
    "extract_documents",
    """
    SELECT 'doc-' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
           CAST(doc_id // 50 AS BIGINT) AS turn_idx,
           trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS clean_text,
           CAST(1 AS BIGINT) AS n_spans
    FROM documents
    """,
)
def q_extract_documents(spark, sf_dir):
    """FLAGSHIP: the map-only detect-then-extract pipeline (one Arrow
    UDF proposes and decodes spans, a per-row projection drops blanks and
    joins them in order — pipeline.py:28-75 analog) over transcripts
    synthesized from the documents table. The oracle knows the
    synthesized markup shape, so the expected extraction is just the
    collapsed original text — an end-to-end golden at sf scale
    (test_pipeline.py:17-21 analog)."""
    docs = _t(spark, sf_dir, "documents")
    transcripts = docs.select(
        F.concat(F.lit("doc-"), (F.col("doc_id") % 50).cast("string")).alias("conv_id"),
        F.expr("doc_id div 50").cast("int").alias("turn_idx"),
        F.concat(
            F.lit("<body><nav><a href='/'>home</a> <a href='/x'>about</a></nav><p>"),
            F.col("text"),
            F.lit("</p><footer>footer boilerplate junk</footer></body>"),
        ).alias("text"),
    )
    out = extract(transcripts)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "clean_text",
        F.size("spans").cast("long").alias("n_spans"),
    )


@register(
    "conversation_rollup",
    """
    WITH turns AS (
      SELECT 'doc-' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
             CAST(doc_id // 50 AS BIGINT) AS turn_idx,
             trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS clean_text
      FROM documents)
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           string_agg(clean_text, chr(10) ORDER BY turn_idx) AS conv_text
    FROM turns GROUP BY conv_id
    """,
)
def q_conversation_rollup(spark, sf_dir):
    """Conversation-level reassembly on top of the FULL pipeline:
    extract per turn (map-only), then one shuffle groupBy(conv_id) with
    ordered collect_list -> '\\n'-joined conversation documents — the
    convert_lines_to_paragraph semantics (data_generation.py:273-276)
    lifted from spans-within-turn to turns-within-conversation."""
    fn, _ = QUERIES["extract_documents"]
    turns = fn(spark, sf_dir)
    ordered = F.sort_array(F.collect_list(F.struct("turn_idx", "clean_text")))
    return turns.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        F.array_join(F.transform(ordered, lambda s: s["clean_text"]), "\n").alias("conv_text"),
    )


@register(
    "pdf_extract_pipeline",
    """
    SELECT 'pdf-' || CAST(doc_id AS VARCHAR) AS conv_id,
           CAST(0 AS BIGINT) AS turn_idx,
           trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS clean_text,
           CAST(1 AS BIGINT) AS n_spans
    FROM documents
    """,
)
def q_pdf_extract_pipeline(spark, sf_dir):
    """END-TO-END byte-stream flagship: binary PDF-ish payloads ->
    mapInArrow text parse -> the same propose/decode/reassemble
    pipeline as HTML transcripts (operators.multimodal.extract_from_pdfs).
    The oracle knows the synthesis (clean text == ws-collapsed source),
    so the whole binary -> spans -> clean-text path is value-checked."""
    from .operators.multimodal import extract_from_pdfs, synth_pdf_payloads

    docs = _docs(spark, sf_dir)
    out = extract_from_pdfs(synth_pdf_payloads(docs))
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "clean_text",
        F.size("spans").cast("long").alias("n_spans"),
    )


# ==========================================================================
# 2. Dedup operators (training-data pipeline, first-class)
# ==========================================================================


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = D.exact_dedup(docs)
    return out.select("text_hash", F.col("keeper_id").cast("long").alias("keeper_id"), F.col("n_dups").cast("long").alias("n_dups"))


_SHINGLES_SQL = """
      SELECT doc_id AS id,
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS shingles
      FROM documents
      WHERE len(string_split(text,' ')) >= 3
"""


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    sh AS (SELECT id, unnest(shingles) AS shingle FROM sh0),
    sizes AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(floor(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS jaccard
    FROM common JOIN sizes sa ON sa.id = common.id_a JOIN sizes sb ON sb.id = common.id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= CAST(0.5 AS DOUBLE)
    """,
)
def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    out = D.ngram_jaccard_pairs(docs, threshold=0.5)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


def _minhash_sql_components(n: int) -> str:
    # Mirrors operators.dedup.minhash_signatures: one 64-hex digest per
    # shingle (md5(s) || md5(s||'#')), components = minima over disjoint
    # 4-hex windows.
    return ", ".join(
        f"list_min(list_transform(digests, d -> substr(d, {4 * i + 1}, 4)))" for i in range(n)
    )


def _band_sql_values(n_bands: int, rows: int) -> str:
    vals = []
    for i in range(n_bands):
        lo = i * rows + 1
        hi = i * rows + rows
        vals.append(f"({i}, md5(array_to_string(signature[{lo}:{hi}], '|')))")
    return ", ".join(vals)


#: The CTEs every MinHash oracle starts from: ``sh0`` (each document's
#: distinct 3-gram shingles), ``digs`` and ``sig`` (the 16-component
#: signature) and ``bands`` (4 LSH band keys of 4 components each).
_MINHASH_BANDS_SQL = f"""sh0 AS ({_SHINGLES_SQL}),
    digs AS (
      SELECT id, list_transform(shingles, s -> md5(s) || md5(s || '#')) AS digests
      FROM sh0 WHERE len(shingles) > 0),
    sig AS (
      SELECT id, [{_minhash_sql_components(16)}] AS signature FROM digs),
    bands AS (
      SELECT id, b.band_idx, b.band_key
      FROM sig, LATERAL (VALUES {_band_sql_values(4, 4)}) AS b(band_idx, band_key))"""

#: ``minhash_dedup_pairs(threshold=0.5)`` resolved into clusters, after
#: the bands: ``pairs`` (verified candidate pairs) and ``resolved``
#: (``id, keeper_id``, the component minimum). Needs ``WITH RECURSIVE``.
_RESOLVED_SQL = f"""{_MINHASH_BANDS_SQL},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id),
    sh AS (SELECT id, unnest(shingles) AS shingle FROM sh0),
    sizes AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY id),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS n_common
      FROM cand c
      JOIN sh a ON a.id = c.id_a
      JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b),
    pairs AS (
      SELECT id_a, id_b
      FROM common JOIN sizes sa ON sa.id = common.id_a JOIN sizes sb ON sb.id = common.id_b
      WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= CAST(0.5 AS DOUBLE)),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.id = e.v),
    comp AS (SELECT id, min(r) AS keeper FROM reach GROUP BY id),
    resolved AS (
      SELECT d.doc_id AS id, coalesce(c.keeper, d.doc_id) AS keeper_id
      FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)"""


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_MINHASH_BANDS_SQL}
    SELECT DISTINCT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
    """,
)
def q_dedup_minhash_lsh(spark, sf_dir):
    # Explicit opt-in hot-bucket cap (scale guard; the oracle is the
    # uncapped candidate set — equal while no band bucket nears 10k,
    # which exact-dedup-first guarantees on real pipelines too).
    docs = _docs(spark, sf_dir)
    sigs = D.minhash_signatures(docs, n_hashes=16)
    out = D.lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=4, max_bucket_size=10_000)
    return out.select(F.col("id_a").cast("long").alias("id_a"), F.col("id_b").cast("long").alias("id_b"))


@register(
    "dedup_resolve",
    f"""
    WITH RECURSIVE {_RESOLVED_SQL},
    csize AS (SELECT keeper_id, count(*) AS cluster_size FROM resolved GROUP BY keeper_id)
    SELECT CAST(r.id AS BIGINT) AS id, CAST(r.keeper_id AS BIGINT) AS keeper_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           (r.id = r.keeper_id) AS is_keeper
    FROM resolved r JOIN csize s USING (keeper_id)
    """,
)
def q_dedup_resolve(spark, sf_dir):
    """The dedup LAST MILE: near-dup PAIRS -> duplicate CLUSTERS -> one
    keeper per cluster (pair machinery alone cannot drop rows — if a~b
    and b~c then {a,b,c} must collapse to ONE keeper even though (a,c)
    was never a candidate). Spark side: minhash_dedup_pairs (LSH
    candidates, exact-Jaccard verified) -> alternating large-star/
    small-star connected components (operators/clusters.py, O(log n)
    equi-join rounds) -> keeper + cluster size per document, singletons
    included. Oracle: the same pair set, closed transitively with a
    recursive CTE. Reference analog: detection.py:432-438 de-dup set
    semantics lifted to the corpus."""
    from .operators.clusters import resolve_duplicates

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    out = resolve_duplicates(docs, pairs, id_col="doc_id")
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("keeper_id").cast("long").alias("keeper_id"),
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("is_keeper"),
    )


def _simhash64_sql() -> str:
    """64-bit SimHash terms over a precomputed ``nibs`` column
    (list of per-word 16-nibble lists) — the DuckDB form of
    ``functions.hashing.simhash64_py``: bit b votes on nibble 16 - b//4
    (1-based from the left), at within-nibble position b%4. Bit 63
    contributes -2^63 so the fingerprint is the signed int64 both
    engines store."""
    bits = []
    for b in range(64):
        j = 16 - b // 4  # 1-based nibble index from the left
        k = b % 4
        vote = f"list_sum(list_transform(nibs, n -> CASE WHEN (n[{j}] // {1 << k}) % 2 = 1 THEN 1 ELSE -1 END))"
        contrib = "-9223372036854775808" if b == 63 else str(1 << b)
        bits.append(f"CASE WHEN {vote} > 0 THEN {contrib} ELSE 0 END")
    return " + ".join(bits)


_SIMHASH_NIBS_SQL = f"""
      SELECT doc_id AS id,
             list_transform(string_split(text, ' '),
               w -> list_transform(range(1, 17), i -> strpos('{HEX}', substr(md5(w), i, 1)) - 1)) AS nibs
      FROM documents
"""


@register(
    "dedup_simhash",
    f"""
    WITH nibbed AS ({_SIMHASH_NIBS_SQL})
    SELECT CAST(id AS BIGINT) AS id, CAST({_simhash64_sql()} AS BIGINT) AS simhash FROM nibbed
    """,
)
def q_dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints (Arrow-UDF fast path; the oracle
    recomputes the identical nibble arithmetic in SQL, so the driver's
    value hash verifies the UDF kernel directly)."""
    docs = _docs(spark, sf_dir)
    out = D.simhash_fingerprints(docs)
    return out.select(F.col("id").cast("long").alias("id"), F.col("simhash").cast("long").alias("simhash"))


# Near-dup input with planted duplicates: documents UNION exact copies
# (id+100000, every 11th doc) UNION near copies with three appended words
# (id+200000, every 7th doc) — so the pair set is non-trivial at any sf.
_SIMHASH_PAIR_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 200000, text || ' zz qq xx' FROM documents WHERE doc_id % 7 = 0
"""


@register(
    "simhash_near_pairs",
    f"""
    WITH src AS ({_SIMHASH_PAIR_DOCS_SQL}),
    nibbed AS (
      SELECT doc_id AS id,
             list_transform(string_split(text, ' '),
               w -> list_transform(range(1, 17), i -> strpos('{HEX}', substr(md5(w), i, 1)) - 1)) AS nibs
      FROM src),
    fps AS (SELECT id, CAST({_simhash64_sql()} AS BIGINT) AS simhash FROM nibbed),
    blocks AS (
      SELECT id, simhash, b.blk, b.key
      FROM fps, LATERAL (VALUES (0, (simhash >> 0) & 65535), (1, (simhash >> 16) & 65535),
                                (2, (simhash >> 32) & 65535), (3, (simhash >> 48) & 65535)) AS b(blk, key))
    SELECT DISTINCT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM blocks a JOIN blocks b
      ON a.blk = b.blk AND a.key = b.key AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_near_pairs(spark, sf_dir):
    """SimHash near-duplicate pairs: 4x16-bit block equi-join (pigeonhole
    guarantees every Hamming<=3 pair meets in >=1 block) + exact Hamming
    filter on candidates. Input plants exact and near copies so the
    result is non-trivial; the oracle rebuilds fingerprints, blocks and
    the Hamming filter from scratch in SQL."""
    docs = _t(spark, sf_dir, "documents")
    planted = (
        docs.select("doc_id", "text")
        .unionByName(docs.filter(F.col("doc_id") % 11 == 0).select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zz qq xx")).alias("text"),
            )
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = D.simhash_near_pairs(planted, max_hamming=3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


# ==========================================================================
# 3. Text analysis (training-data curation)
# ==========================================================================


def _lang_count_sql(word: str) -> str:
    return f"len(list_filter(string_split(lower(text), ' '), w -> w = '{word}'))"


def _lang_score_sql(markers) -> str:
    return " + ".join(_lang_count_sql(m) for m in markers)


@register(
    "lang_scores",
    f"""
    WITH scored AS (
      SELECT doc_id AS id,
             {_lang_score_sql(TS.LANG_MARKERS["en"])} AS score_en,
             {_lang_score_sql(TS.LANG_MARKERS["es"])} AS score_es,
             {_lang_score_sql(TS.LANG_MARKERS["fr"])} AS score_fr,
             {_lang_score_sql(TS.LANG_MARKERS["de"])} AS score_de
      FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(score_en AS BIGINT) AS score_en, CAST(score_es AS BIGINT) AS score_es,
           CAST(score_fr AS BIGINT) AS score_fr, CAST(score_de AS BIGINT) AS score_de,
           CASE WHEN greatest(score_en, score_es, score_fr, score_de) = 0 THEN 'unknown'
                WHEN score_en = greatest(score_en, score_es, score_fr, score_de) THEN 'en'
                WHEN score_es = greatest(score_en, score_es, score_fr, score_de) THEN 'es'
                WHEN score_fr = greatest(score_en, score_es, score_fr, score_de) THEN 'fr'
                ELSE 'de' END AS pred_lang
    FROM scored
    """,
)
def q_lang_scores(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = TS.lang_scores(docs)
    return out.select(
        F.col("id").cast("long").alias("id"),
        *[F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in TS.LANG_MARKERS],
        "pred_lang",
    )


@register(
    "quality_scores",
    f"""
    WITH feats AS (
      SELECT doc_id AS id, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_words,
             {_lang_score_sql(TS.LANG_MARKERS["en"])} AS stop_hits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(floor((CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / n_words ELSE 0 END) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_word_len,
           CAST(floor((CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0 END) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS stop_ratio,
           CAST(floor((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS punct_ratio,
           CAST(floor((least(CAST(n_words AS DOUBLE) / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
                    + least((CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0 END) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
                    + (CAST(1.0 AS DOUBLE) - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END) * CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE))
                 * 1000000 + 0.5) / 1000000 AS DOUBLE) AS quality
    FROM feats
    """,
)
def q_quality_scores(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = TS.quality_scores(docs)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("avg_word_len").cast("double").alias("avg_word_len"),
        F.col("stop_ratio").cast("double").alias("stop_ratio"),
        F.col("punct_ratio").cast("double").alias("punct_ratio"),
        F.col("quality").cast("double").alias("quality"),
    )


@register(
    "token_counts",
    """
    SELECT CAST(doc_id AS BIGINT) AS id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = TS.token_counts(docs)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


@register(
    "doc_fingerprint",
    """
    WITH docs AS (SELECT doc_id AS id, string_split(text, ' ') AS words FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           md5(array_to_string(list_sort(list_distinct(list_transform(words, w -> md5(w))))[1:4], '|')) AS fingerprint
    FROM docs
    """,
)
def q_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return TS.fingerprints(docs).select(F.col("id").cast("long").alias("id"), "fingerprint")


# ==========================================================================
# 4. Remaining SURVEY §2 scalar/agg mappings
# ==========================================================================


@register(
    "sha256_manifest",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id, sha256(text) AS text_sha FROM documents
    """,
)
def q_sha256_manifest(spark, sf_dir):
    """Integrity hash — download_and_verify / sha256sum
    (tools.py:484-530) as F.sha2; the checkpoint-manifest content hash
    uses the same primitive."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(_b("doc_id"), F.sha2(F.col("text"), 256).alias("text_sha"))


@register(
    "curate_corpus",
    f"""
    WITH RECURSIVE {_RESOLVED_SQL},
    feats AS (
      SELECT doc_id AS id, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_words,
             {_lang_score_sql(TS.LANG_MARKERS["en"])} AS stop_hits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens
      FROM documents),
    scored AS (
      SELECT id, n_bpe_tokens,
             least(CAST(n_words AS DOUBLE) / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
             + least((CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0 END) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END) * CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE) AS quality
      FROM feats),
    surv AS (
      SELECT r.id, r.keeper_id, s.n_bpe_tokens,
             floor(s.quality * 1000000 + 0.5) / 1000000 AS quality
      FROM resolved r JOIN scored s ON s.id = r.id
      WHERE r.id = r.keeper_id
        AND floor(s.quality * 1000000 + 0.5) / 1000000 >= CAST(0.5 AS DOUBLE)),
    sw AS (SELECT d.doc_id AS id, string_split(d.text, ' ') AS ws
           FROM documents d JOIN surv ON surv.id = d.doc_id),
    sg0 AS (
      SELECT id, list_transform(range(1, len(ws) - 3),
                 i -> md5(array_to_string(list_slice(ws, i, i + 4), ' '))) AS grams
      FROM sw WHERE len(ws) >= 5),
    sg AS (SELECT id, generate_subscripts(grams, 1) AS pos, unnest(grams) AS h FROM sg0),
    sdup AS (SELECT h FROM sg GROUP BY h HAVING count(*) > 1),
    sds AS (SELECT sg.id, sg.pos FROM sg JOIN sdup USING (h)),
    swx AS (SELECT id, generate_subscripts(ws, 1) AS wpos FROM sw),
    scov AS (SELECT DISTINCT swx.id, swx.wpos
             FROM swx JOIN sds ON swx.id = sds.id AND swx.wpos BETWEEN sds.pos AND sds.pos + 4),
    sagg AS (SELECT id, count(*) AS dup_words FROM scov GROUP BY id),
    subs AS (
      SELECT sw.id,
             CAST(CASE WHEN len(sw.ws) > 0
                  THEN floor(CAST(COALESCE(sagg.dup_words, 0) AS DOUBLE) / len(sw.ws) * 1000000 + 0.5) / 1000000
                  ELSE 0.0 END AS DOUBLE) AS dup_frac
      FROM sw LEFT JOIN sagg ON sw.id = sagg.id),
    gated AS (
      SELECT surv.id, surv.keeper_id, surv.n_bpe_tokens, surv.quality, subs.dup_frac
      FROM surv JOIN subs ON subs.id = surv.id
      WHERE subs.dup_frac <= CAST(0.5 AS DOUBLE)
        AND substr(md5(CAST(surv.keeper_id AS VARCHAR)), 1, 1) NOT IN ('0','1','2','3')),
    mix AS (
      SELECT g.id, d.lang, g.n_bpe_tokens, g.quality, g.dup_frac,
             sum(g.n_bpe_tokens) OVER (PARTITION BY d.lang
                                       ORDER BY md5(CAST(g.id AS VARCHAR)), g.id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM gated g JOIN documents d ON d.doc_id = g.id)
    SELECT CAST(id AS BIGINT) AS id, lang,
           CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens,
           CAST(quality AS DOUBLE) AS quality,
           dup_frac,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM mix
    WHERE cum_tokens <= (CASE WHEN lang = 'en' THEN 3000 ELSE 1000 END)
    """,
)
def q_curate_corpus(spark, sf_dir):
    """The END-TO-END CURATION PIPELINE in one plan — what this engine
    exists to run at 100 TB: ``plans.pipeline.curate`` over documents,
    the same plan ``scripts/curate_job.py`` writes. Near-dup clusters ->
    one keeper each -> quality gate -> exact substring-span gate ->
    leakage-safe split (train side) -> per-language token-budget mix
    (both budgets genuinely truncate at sf0.01). The oracle composes
    the same stages as CTEs, so the whole pipeline value-hash-matches
    end to end."""
    return curate(_docs(spark, sf_dir))


def _bm25_oracle() -> str:
    from .operators.retrieval import bm25_sql

    inner = bm25_sql(("join", "hash", "vector"))
    return f"""
    SELECT CAST(id AS BIGINT) AS id,
           CAST(floor(bm25 * 1000000 + 0.5) / 1000000 AS DOUBLE) AS bm25
    FROM ({inner})
    """


@register("bm25_search", _bm25_oracle())
def q_bm25_search(spark, sf_dir):
    """BM25 retrieval scoring against a fixed probe query — the
    curation-side search primitive (operators/retrieval.py): one corpus
    pass computes per-term tf as array expressions (no explode — no row
    multiplication by doc length), one 1-row grand-total agg gives
    N/avgdl/df, broadcast back, score is a projection. The oracle
    recomputes the identical left-to-right float summation, so the
    scores hash-match after defensive 1e-6 rounding."""
    from .operators.retrieval import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    out = bm25_scores(docs, ("join", "hash", "vector"))
    return out.select(F.col("id").cast("long").alias("id"), pround(F.col("bm25"), 6).alias("bm25"))


@register(
    "sample_documents",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(length(text) AS BIGINT) AS text_len
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def q_sample_documents(spark, sf_dir):
    """Deterministic SYSTEMATIC SAMPLE — the corpus-sampling primitive
    (eval slices, human-review draws, ablation subsets) done the way a
    100 TB pipeline must: a pure hash predicate (first md5 nibble < 2
    -> exact 1/8 expected rate), so the sample is stable across runs,
    engines and partitionings — unlike df.sample(), whose RNG stream is
    engine- and split-dependent. The predicate is a plain projection
    filter: fully pushed into the scan, no state, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.filter(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1"))
        .select(_b("doc_id"), F.length("text").cast("long").alias("text_len"))
    )


@register(
    "profile_documents",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_texts,
           CAST(min(length(text)) AS BIGINT) AS min_len,
           CAST(max(length(text)) AS BIGINT) AS max_len,
           CAST(floor(avg(length(text)) * 100 + 0.5) / 100 AS DOUBLE) AS avg_len,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts
    FROM documents
    """,
)
def q_profile_documents(spark, sf_dir):
    """DATA PROFILING in one pass — the ingest-gate summary a curation
    pipeline computes before anything else (row/id/dup counts, null
    rate, length distribution). One grand-total aggregate; the two
    count-distincts expand internally but stay a single job."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("doc_id").cast("long").alias("n_ids"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).cast("long").alias("null_texts"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
        pround(F.avg(F.length("text")), 2).alias("avg_len"),
        F.countDistinct(F.md5("text")).cast("long").alias("distinct_texts"),
    )


# ==========================================================================
# 5. Encoding / alphabet / shuffle (§2 tail)
# ==========================================================================


@register(
    "vocab_encode",
    f"""
    WITH clean AS (
      SELECT doc_id AS id, regexp_replace(lower(text), '[^{E.DEFAULT_ALPHABET}]', '', 'g') AS s
      FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(least(length(s), 32) AS BIGINT) AS label_length,
           array_to_string(list_transform(range(1, 33),
             i -> CASE WHEN i <= length(s)
                       THEN strpos('{E.DEFAULT_ALPHABET}', substr(s, CAST(i AS INTEGER), 1)) - 1
                       ELSE -1 END), ',') AS labels_csv
    FROM clean
    """,
)
def q_vocab_encode(spark, sf_dir):
    """Char -> label-index encode + -1 pad (recognition.py:450-459): the
    broadcast-vocabulary map lookup, padded to 32. The oracle rebuilds it
    with strpos over the same alphabet literal (alphabet.index == map
    value == strpos-1)."""
    docs = _t(spark, sf_dir, "documents")
    out = E.vocab_encode(docs, max_len=32)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("label_length").cast("long").alias("label_length"),
        F.array_join(F.transform("labels", lambda x: x.cast("string")), ",").alias("labels_csv"),
    )


@register(
    "alphabet_filter",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           regexp_replace(lower(text), '[^{E.DEFAULT_ALPHABET} ]', '', 'g') AS clean,
           CAST(length(text) - length(regexp_replace(lower(text), '[^{E.DEFAULT_ALPHABET} ]', '', 'g')) AS BIGINT) AS n_removed
    FROM documents
    """,
)
def q_alphabet_filter(spark, sf_dir):
    """Alphabet char filter (data_generation.py:148-156,
    datasets.py:465-467): regexp char-class strip, keeping spaces."""
    docs = _t(spark, sf_dir, "documents")
    clean = E.alphabet_filter_expr(F.col("text"), E.DEFAULT_ALPHABET + " ")
    return docs.select(
        _b("doc_id"),
        clean.alias("clean"),
        (F.length("text") - F.length(clean)).cast("long").alias("n_removed"),
    )


# A "font" whose cmap lacks the glyph 'q' — documents containing it are
# unsupported (385/115 split at sf0.01, non-degenerate by construction).
_FONT_CMAP = "0123456789abcdefghijklmnoprstuvwxyz "


@register(
    "font_support",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           length(regexp_replace(lower(text), '[{_FONT_CMAP}]', '', 'g')) = 0 AS supported,
           CAST(length(regexp_replace(lower(text), '[{_FONT_CMAP}]', '', 'g')) AS BIGINT) AS n_unsupported
    FROM documents
    """,
)
def q_font_support(spark, sf_dir):
    """Font-support predicate (data_generation.py:115-137): broadcast-set
    membership via forall over a vocabulary map — 'is every char of the
    text inside the font's cmap set'. The oracle phrases the same
    predicate as an empty regex residue; both count the unsupported
    chars identically."""
    docs = _t(spark, sf_dir, "documents")
    supported_set = _FONT_CMAP
    residue = F.regexp_replace(F.lower(F.col("text")), f"[{supported_set}]", "")
    return docs.select(
        _b("doc_id"),
        E.font_support_expr(F.col("text"), supported_set).alias("supported"),
        F.length(residue).cast("long").alias("n_unsupported"),
    )


@register(
    "epoch_shuffle",
    """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(row_number() OVER (ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS shuffle_pos
    FROM documents
    """,
)
def q_epoch_shuffle(spark, sf_dir):
    """Seeded epoch shuffle (datasets.py:379-381; data_generation.py:
    637-653): deterministic permutation by md5(seed:key) — reproducible
    across engines and epochs, unlike rand(seed) whose stream is
    engine-specific."""
    docs = _t(spark, sf_dir, "documents")
    out = E.epoch_shuffle(docs, seed=7, key_col="doc_id")
    return out.select(_b("doc_id"), F.col("shuffle_pos").cast("long").alias("shuffle_pos"))


@register(
    "pdf_extract",
    """
    WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
    c AS (
      SELECT doc_id, text,
             list_transform(
               range(0, greatest(CAST(ceil(len(words) / 4.0) AS BIGINT), 1)),
               i -> CASE WHEN i % 2 = 0
                    THEN 'BT (' || replace(replace(replace(
                           array_to_string(list_slice(words, i*4+1, i*4+4), ' '),
                           '\\', '\\\\'), '(', '\\('), ')', '\\)') || ') Tj ET'
                    ELSE 'BT [(' || replace(replace(replace(
                           array_to_string(list_slice(words, i*4+1, i*4+4), ' '),
                           '\\', '\\\\'), '(', '\\('), ')', '\\)') || ') -120] TJ ET'
                    END) AS blocks
      FROM w)
    SELECT CAST(doc_id AS BIGINT) AS id, text AS pdf_text,
           CAST(octet_length(encode(
             '%PDF-1.4 ' || array_to_string(blocks, ' ') || ' EOF')) AS BIGINT) AS n_bytes
    FROM c
    """,
)
def q_pdf_extract(spark, sf_dir):
    """PDF/byte-stream tokenization path: synthesize MULTI-BLOCK
    PDF-like binary payloads (one BT..ET object per 4-word chunk,
    alternating ``(s) Tj`` and ``[(s) -120] TJ`` show forms,
    PDF-escaped strings), then parse the bytes back to text inside
    mapInArrow (operators.multimodal.pdf_extract_text) — binary column
    in, Arrow batches through, text out. The oracle recomputes the
    synthesis byte-for-byte (same chunking, escaping and layout), so
    extraction must round-trip the original text exactly AND the byte
    count must match the real payload."""
    from .operators.multimodal import pdf_extract_text, synth_pdf_payloads

    docs = _docs(spark, sf_dir)
    out = pdf_extract_text(synth_pdf_payloads(docs))
    return out.select(
        F.col("id").cast("long").alias("id"),
        "pdf_text",
        F.col("n_bytes").cast("long").alias("n_bytes"),
    )


# ==========================================================================
# 6. Evaluation (precision/recall) — reference evaluation.py:56-147
# ==========================================================================

#: Golden IoU pairs: 1-D analogs of the reference goldens
#: (/root/reference/tests/test_evaluation.py:4-10): exact 0.25
#: (quarter-overlap) and 0.0 (touching edges), plus containment/degenerate.
_IOU_PAIRS = [
    (1, 0, 3, 2, 4),  # overlap 1, union 4  -> 0.25 (the reference golden)
    (2, 0, 5, 5, 10),  # touching            -> 0.0  (the reference golden)
    (3, 0, 10, 5, 15),  # overlap 5, union 15 -> 1/3
    (4, 0, 4, 1, 3),  # containment         -> 0.5
    (5, 3, 3, 3, 3),  # degenerate          -> 0.0
]


@register(
    "span_iou_golden",
    f"""
    SELECT CAST(pair_id AS BIGINT) AS pair_id,
           CAST(coalesce(floor(CAST(greatest(least(e1, e2) - greatest(s1, s2), 0) AS DOUBLE)
                / CASE WHEN greatest(e1, e2) - least(s1, s2) > 0
                       THEN greatest(e1, e2) - least(s1, s2) ELSE NULL END * 1000000 + 0.5) / 1000000, 0.0) AS DOUBLE) AS iou
    FROM (VALUES {", ".join(str(t) for t in _IOU_PAIRS)}) AS v(pair_id, s1, e1, s2, e2)
    """,
)
def q_span_iou_golden(spark, sf_dir):
    """Span IoU goldens — the polygon-IoU goldens of the reference
    (0.25 quarter-overlap, 0.0 touching; tests/test_evaluation.py:4-10)
    recast to 1-D interval arithmetic (evaluation.py:13-53)."""
    from .evaluation import span_iou_expr

    df = spark.createDataFrame(_IOU_PAIRS, "pair_id int, s1 int, e1 int, s2 int, e2 int")
    iou = span_iou_expr(F.col("s1"), F.col("e1"), F.col("s2"), F.col("e2"))
    # floor-round NULL-safe: degenerate unions produce 0.0 on the Spark
    # side (when-guard) and NULL/0 coalescing on the oracle side.
    return df.select(_b("pair_id"), pround(iou, 6).alias("iou")).withColumn(
        "iou", F.coalesce(F.col("iou"), F.lit(0.0))
    )


# Synthesized (true, pred) span tables over documents: two truth spans per
# doc (one sometimes ignore-flagged), predictions with deterministic
# offset jitter, a reversed-text corruption (forces near-TPs), a spurious
# span (FPs) and a conditional second-truth match (FNs when absent).
# Data-shape precondition: documents.text is >= 41 chars (holds with huge
# margin in the synthetic tables; guarded in tests/test_entry.py).
def _eval_sql(sim_thr: float = 0.5) -> str:
    """The per-turn eval oracle, parametrized by the text-similarity
    threshold (the IoU threshold stays 0.5 — the reference's default)."""
    return f"""
    WITH t AS (
      SELECT doc_id AS turn_id, 0 AS span_id, 0 AS s, 20 AS e,
             substr(text, 1, 20) AS txt, FALSE AS ign FROM documents
      UNION ALL
      SELECT doc_id, 1, 20, 40, substr(text, 21, 20), doc_id % 10 = 0 FROM documents),
    p AS (
      SELECT doc_id AS turn_id, 0 AS span_id, doc_id % 3 AS s, 20 + doc_id % 3 AS e,
             CASE WHEN doc_id % 13 = 0 THEN reverse(substr(text, 1 + doc_id % 3, 20))
                  ELSE substr(text, 1 + doc_id % 3, 20) END AS txt
      FROM documents
      UNION ALL
      SELECT doc_id, 1, 40, 60, substr(text, 41, 20) FROM documents
      UNION ALL
      SELECT doc_id, 2, 21, 39, substr(text, 22, 18) FROM documents WHERE doc_id % 5 = 0),
    cand AS (
      SELECT t.turn_id, t.span_id AS ts, p.span_id AS ps, t.ign,
             CASE WHEN coalesce(1.0 - CAST(levenshtein(t.txt, p.txt) AS DOUBLE)
                                / nullif(greatest(length(t.txt), length(p.txt)), 0), 1.0) >= {sim_thr}
                  THEN 1 ELSE 0 END AS sim_ok
      FROM t JOIN p ON t.turn_id = p.turn_id
      WHERE CAST(greatest(least(t.e, p.e) - greatest(t.s, p.s), 0) AS DOUBLE)
            / (greatest(t.e, p.e) - least(t.s, p.s)) >= 0.5),
    truth_flags AS (SELECT turn_id, ts, max(sim_ok) AS any_sim FROM cand GROUP BY turn_id, ts),
    truth_counts AS (
      SELECT t.turn_id,
             sum(CASE WHEN NOT t.ign AND f.any_sim = 1 THEN 1 ELSE 0 END) AS tp,
             sum(CASE WHEN NOT t.ign AND f.any_sim = 0 THEN 1 ELSE 0 END) AS near_tp,
             sum(CASE WHEN NOT t.ign AND f.any_sim IS NULL THEN 1 ELSE 0 END) AS fn
      FROM t LEFT JOIN truth_flags f ON t.turn_id = f.turn_id AND t.span_id = f.ts
      GROUP BY t.turn_id),
    fp_counts AS (
      SELECT p.turn_id, count(*) AS fp
      FROM p LEFT JOIN (SELECT DISTINCT turn_id, ps FROM cand) m
        ON p.turn_id = m.turn_id AND p.span_id = m.ps
      WHERE m.turn_id IS NULL GROUP BY p.turn_id)
    SELECT CAST(tu.turn_id AS BIGINT) AS turn_id,
           CAST(coalesce(tc.tp, 0) AS BIGINT) AS tp,
           CAST(coalesce(f.fp, 0) AS BIGINT) AS fp,
           CAST(coalesce(tc.fn, 0) AS BIGINT) AS fn,
           CAST(coalesce(tc.near_tp, 0) AS BIGINT) AS near_tp
    FROM (SELECT DISTINCT turn_id FROM t UNION SELECT DISTINCT turn_id FROM p) tu
    LEFT JOIN truth_counts tc ON tu.turn_id = tc.turn_id
    LEFT JOIN fp_counts f ON tu.turn_id = f.turn_id
"""


_EVAL_SQL = _eval_sql(0.5)


@register("eval_score", _EVAL_SQL)
def q_eval_score(spark, sf_dir):
    """Per-turn precision/recall counting (evaluation.score,
    /root/reference/keras_ocr/evaluation.py:56-147) as the join+agg flow
    of keras_ocr_spark.evaluation.score_by_turn, over (true, pred) span
    tables synthesized deterministically from documents. Exercises every
    counting rule: multi-candidate TPs, near-TPs (reversed-text
    corruption), FNs (absent second-pred), FPs (spurious span), ignore
    flags."""
    from .evaluation import score_by_turn

    true_df, pred_df = _eval_frames(spark, sf_dir)
    out = score_by_turn(true_df, pred_df)
    return out.select(
        F.col("turn_id").cast("long").alias("turn_id"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("near_tp").cast("long").alias("near_tp"),
    )


def _eval_frames(spark, sf_dir):
    """The synthesized (true, pred) span frames shared by eval_score and
    threshold_sweep (see the shape notes above _eval_sql)."""
    docs = _t(spark, sf_dir, "documents")
    text = F.col("text")
    shift = F.col("doc_id") % 3
    t0 = docs.select(
        F.col("doc_id").alias("turn_id"),
        F.lit(0).alias("span_id"),
        F.lit(0).alias("start"),
        F.lit(20).alias("end"),
        F.substring(text, 1, 20).alias("text"),
        F.lit(False).alias("ignore"),
    )
    t1 = docs.select(
        F.col("doc_id").alias("turn_id"),
        F.lit(1).alias("span_id"),
        F.lit(20).alias("start"),
        F.lit(40).alias("end"),
        F.substring(text, 21, 20).alias("text"),
        (F.col("doc_id") % 10 == 0).alias("ignore"),
    )
    jittered = text.substr(shift + F.lit(1), F.lit(20))
    p0 = docs.select(
        F.col("doc_id").alias("turn_id"),
        F.lit(0).alias("span_id"),
        shift.cast("int").alias("start"),
        (shift + 20).cast("int").alias("end"),
        F.when(F.col("doc_id") % 13 == 0, F.reverse(jittered)).otherwise(jittered).alias("text"),
    )
    p1 = docs.select(
        F.col("doc_id").alias("turn_id"),
        F.lit(1).alias("span_id"),
        F.lit(40).alias("start"),
        F.lit(60).alias("end"),
        F.substring(text, 41, 20).alias("text"),
    )
    p2 = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("turn_id"),
        F.lit(2).alias("span_id"),
        F.lit(21).alias("start"),
        F.lit(39).alias("end"),
        F.substring(text, 22, 18).alias("text"),
    )
    return t0.unionByName(t1), p0.unionByName(p1).unionByName(p2)


_SWEEP_THRESHOLDS = [0.3, 0.5, 0.7, 0.9]


def _sweep_arm_sql(thr: float) -> str:
    return f"""
    SELECT CAST({thr} AS DOUBLE) AS sim_thr,
           CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
           CAST(sum(fn) AS BIGINT) AS fn, CAST(sum(near_tp) AS BIGINT) AS near_tp,
           CAST(floor(CAST(sum(tp) AS DOUBLE) / (sum(tp) + sum(fp)) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS precision,
           CAST(floor(CAST(sum(tp) AS DOUBLE) / (sum(tp) + sum(fn)) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS recall
    FROM ({_eval_sql(thr)})
    """


@register(
    "threshold_sweep",
    " UNION ALL ".join(_sweep_arm_sql(t) for t in _SWEEP_THRESHOLDS),
)
def q_threshold_sweep(spark, sf_dir):
    """Threshold calibration: corpus precision/recall at several text-
    similarity thresholds — the reference's README benchmark loop
    (evaluate a detector+recognizer config per matching criterion,
    README.md:55-76) as ONE query. TP/near-TP trade off as the
    threshold rises while FP/FN stay fixed (candidacy is IoU-only), so
    the sweep also property-checks the counting rules."""
    from .evaluation import score_by_turn

    true_df, pred_df = _eval_frames(spark, sf_dir)
    arms = []
    for thr in _SWEEP_THRESHOLDS:
        per_turn = score_by_turn(true_df, pred_df, iou_threshold=0.5, similarity_threshold=thr)
        arms.append(
            per_turn.agg(
                F.lit(float(thr)).alias("sim_thr"),
                F.sum("tp").cast("long").alias("tp"),
                F.sum("fp").cast("long").alias("fp"),
                F.sum("fn").cast("long").alias("fn"),
                F.sum("near_tp").cast("long").alias("near_tp"),
                pround(F.sum("tp") / (F.sum("tp") + F.sum("fp")), 6).alias("precision"),
                pround(F.sum("tp") / (F.sum("tp") + F.sum("fn")), 6).alias("recall"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# ==========================================================================
# 7. Curation operators: repetition gates, contamination, PII, strata
# ==========================================================================


@register(
    "gopher_repetition",
    """
    WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
    base AS (SELECT id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct, ws FROM w),
    pos AS (SELECT id, unnest(ws) AS wd, generate_subscripts(ws, 1) AS i FROM w),
    runs AS (
      SELECT id, count(*) AS run
      FROM (SELECT id, wd, i, i - row_number() OVER (PARTITION BY id, wd ORDER BY i) AS grp FROM pos)
      GROUP BY id, wd, grp),
    maxrun AS (SELECT id, max(run) AS max_word_run FROM runs GROUP BY id),
    bg AS (
      SELECT id, unnest(list_transform(list_zip(ws[1:len(ws)-1], ws[2:]),
                                       p -> p[1] || ' ' || p[2])) AS g
      FROM w WHERE len(ws) >= 2),
    top AS (
      SELECT id, max(c) AS top_n
      FROM (SELECT id, g, count(*) AS c FROM bg GROUP BY id, g) GROUP BY id),
    feats AS (
      SELECT b.id, b.n_words,
             CASE WHEN b.n_words > 0
                  THEN 1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_words ELSE 0.0 END AS dwf,
             CASE WHEN b.n_words >= 2
                  THEN CAST(coalesce(t.top_n, 0) AS DOUBLE) / (b.n_words - 1) ELSE 0.0 END AS tbf,
             coalesce(m.max_word_run, 0) AS max_word_run
      FROM base b LEFT JOIN maxrun m ON m.id = b.id LEFT JOIN top t ON t.id = b.id)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(floor(dwf * 1000000 + 0.5) / 1000000 AS DOUBLE) AS dup_word_frac,
           CAST(floor(tbf * 1000000 + 0.5) / 1000000 AS DOUBLE) AS top_bigram_frac,
           CAST(max_word_run AS BIGINT) AS max_word_run,
           (dwf > 0.5 OR (tbf > 0.18 AND n_words >= 20) OR max_word_run >= 3) AS rep_flagged
    FROM feats
    """,
)
def q_gopher_repetition(spark, sf_dir):
    """Gopher-style repetition quality gates (dup-word fraction, top
    bigram fraction, longest word stutter run) as ONE map-only pass —
    per-row array algebra, zero exchanges. The oracle computes the same
    statistics relationally (positional unnest + gaps-and-islands for
    runs), so the cheap per-row form is value-checked against the
    textbook SQL form."""
    from .operators import curation as C

    return C.repetition_stats(_docs(spark, sf_dir))


@register(
    "contamination_check",
    f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    ev AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh0 WHERE id % 97 = 0),
    tr AS (SELECT id, len(shingles) AS n_shingles, unnest(shingles) AS shingle
           FROM sh0 WHERE id % 97 <> 0),
    hits AS (
      SELECT t.id, max(t.n_shingles) AS n_shingles, count(e.shingle) AS n_hit
      FROM tr t LEFT JOIN ev e ON e.shingle = t.shingle
      GROUP BY t.id)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(floor(CAST(n_hit AS DOUBLE) / n_shingles * 1000000 + 0.5) / 1000000 AS DOUBLE)
             AS contamination
    FROM hits
    """,
)
def q_contamination_check(spark, sf_dir):
    """Train/eval contamination via word-3-gram overlap: the eval split
    (doc_id % 97 == 0 — deterministic, engine-independent) collapses to
    its distinct shingle vocabulary, which is F.broadcast to one hash
    join against the exploded train shingles; one groupBy(id) yields
    per-doc hit counts. The 100 TB shape: eval vocabularies are small
    by construction, so the corpus-sized side never shuffles."""
    from .operators import curation as C

    docs = _docs(spark, sf_dir)
    out = C.contamination_pairs(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        k=3,
    )
    return out.select(_b("id"), "n_shingles", "n_hit", "contamination")


@register(
    "pii_scrub",
    """
    WITH aug AS (
      SELECT doc_id AS id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call 555-123-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '\\d{3}-\\d{3}-\\d{4}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g')) AS scrub_hash
    FROM aug
    """,
)
def q_pii_scrub(spark, sf_dir):
    """PII redaction map pass. The corpus has no organic PII, so a
    deterministic email + phone is first WOVEN INTO each doc from its
    id (identically in both engines) and then scrubbed; the md5 of the
    scrubbed text attests byte-exact redaction. Patterns sit in the
    RE2 ∩ Java-regex dialect subset. Map-only at any scale."""
    from .operators import curation as C

    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = C.pii_scrub(aug)
    return out.select(
        _b("id"), "n_emails", "n_phones", F.md5("scrubbed").alias("scrub_hash")
    )


@register(
    "stratified_sample_lang",
    """
    WITH ranked AS (
      SELECT doc_id AS id, lang AS stratum,
             row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents)
    SELECT CAST(id AS BIGINT) AS id, stratum, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= ceil(n * 0.2)
    """,
)
def q_stratified_sample_lang(spark, sf_dir):
    """Deterministic stratified sampling: exactly ceil(20%) of every
    language stratum, selected by the engine-stable md5(id) systematic
    order. The window is PARTITIONED by the stratum (scalable shape —
    strata rank independently across tasks; no global-order single
    partition)."""
    from .operators import curation as C

    return C.stratified_sample(_docs(spark, sf_dir), "lang", 0.2)


@register(
    "pack_sequences",
    """
    WITH toks AS (
      SELECT doc_id AS id,
             len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_tokens
      FROM documents),
    cum AS (
      SELECT id, n_tokens,
             sum(n_tokens) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
      FROM toks)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(ce - n_tokens AS BIGINT) AS cum_before,
           CAST((ce - n_tokens) // 512 AS BIGINT) AS chunk_first,
           CAST(CASE WHEN n_tokens > 0 THEN (ce - 1) // 512
                     ELSE (ce - n_tokens) // 512 END AS BIGINT) AS chunk_last,
           CAST((ce - n_tokens) % 512 AS BIGINT) AS offset_in_chunk
    FROM cum
    """,
)
def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing: the corpus token stream (in
    doc-id order) sliced into 512-token chunks; each doc gets its chunk
    span + in-chunk offset. The global prefix sum runs THREE-PHASE
    (range buckets from a lazy percentile_approx -> partitioned local
    cumsum -> broadcast prefix offsets, operators/packing.py), and the
    build runs no Spark job — the oracle is the naive
    partition-less SUM OVER window, so the distributed scan is
    value-checked bit-for-bit against the textbook form it replaces."""
    from .operators import packing as P

    toks = TS.token_counts(_docs(spark, sf_dir)).select("id", F.col("n_bpe_tokens").alias("n_tokens"))
    out = P.pack_chunks(toks, "n_tokens", ["id"], capacity=512)
    return out.select(
        _b("id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "cum_before",
        "chunk_first",
        "chunk_last",
        "offset_in_chunk",
    )


@register(
    "inverted_index",
    """
    WITH pairs AS (
      SELECT doc_id AS id, unnest(list_distinct(string_split(text, ' '))) AS term
      FROM documents)
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(list(CAST(id AS BIGINT) ORDER BY id), ',') AS postings
    FROM pairs GROUP BY term
    """,
)
def q_inverted_index(spark, sf_dir):
    """Posting-list construction (the materialized-index half of the
    retrieval story next to bm25_search's fixed-probe scan): explode
    the per-doc DISTINCT vocabulary, ONE groupBy(term) with sorted
    collect_list. Zipf head-term skew is an AQE-split shuffle concern,
    not a correctness one.

    The library operator (operators/retrieval.py inverted_index)
    returns ``postings`` as array<long>; the REGISTERED projection
    serializes it to a comma-joined string because the round driver's
    pandas canonicalizer sorts the result frame and cannot factorize
    list cells (r4 red: ``TypeError: unhashable type: 'list'``).
    tests/test_driver_conformance.py enforces the same rule for every
    registered query."""
    from .operators.retrieval import inverted_index

    idx = inverted_index(_docs(spark, sf_dir))
    return idx.select(
        "term",
        "df",
        F.array_join(F.transform("postings", lambda x: x.cast("string")), ",").alias("postings"),
    )


@register(
    "chunk_documents",
    """
    WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
    base AS (
      SELECT id, ws, len(ws) AS n,
             CASE WHEN len(ws) > 32 THEN 1 + CAST(ceil((len(ws) - 32) / 24.0) AS INT)
                  WHEN len(ws) > 0 THEN 1 ELSE 0 END AS n_chunks
      FROM w),
    ch AS (SELECT id, unnest(range(0, n_chunks)) AS ci, ws, n FROM base WHERE n_chunks > 0)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(ci AS BIGINT) AS chunk_idx,
           array_to_string(ws[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text,
           CAST(least(n - ci * 24, 32) AS BIGINT) AS n_tokens
    FROM ch
    """,
)
def q_chunk_documents(spark, sf_dir):
    """RAG-prep chunking: 32-token windows with 8-token overlap
    (stride 24), built per-row with sequence/transform/slice and ONE
    explode — no join, no shuffle; the output rows ARE the only
    multiplication. The oracle builds the same windows with DuckDB
    list slicing."""
    from .operators import curation as C

    return C.chunk_documents(_docs(spark, sf_dir), chunk_tokens=32, overlap=8)


@register(
    "topk_per_lang",
    """
    WITH feats AS (
      SELECT doc_id AS id, lang, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_words,
             __STOP_SQL__ AS stop_hits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents),
    scored AS (
      SELECT id, lang,
             CAST(floor((least(CAST(n_words AS DOUBLE) / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
                      + least((CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0 END) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
                      + (CAST(1.0 AS DOUBLE) - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END) * CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS DOUBLE) AS quality
      FROM feats),
    ranked AS (
      SELECT id, lang, quality,
             row_number() OVER (PARTITION BY lang ORDER BY quality DESC, id) AS rk
      FROM scored)
    SELECT CAST(id AS BIGINT) AS id, lang, quality, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """.replace("__STOP_SQL__", _lang_score_sql(TS.LANG_MARKERS["en"])),
)
def q_topk_per_lang(spark, sf_dir):
    """Per-group top-k selection (the 'best docs per language' curation
    cut): window PARTITIONED by the group — each language ranks in its
    own tasks; no global sort anywhere. Ordering is on the ROUNDED
    quality + id so both engines rank identical keys."""
    docs = _docs(spark, sf_dir)
    scored = TS.quality_scores(docs).select("id", "quality")
    withlang = scored.join(docs.select(F.col("doc_id").alias("id"), "lang"), "id")
    w = W.partitionBy("lang").orderBy(F.desc("quality"), F.asc("id"))
    ranked = withlang.withColumn("rk", F.row_number().over(w))
    return ranked.filter(F.col("rk") <= 3).select(
        _b("id"), "lang", F.col("quality").cast("double").alias("quality"),
        F.col("rk").cast("long").alias("rk"),
    )


@register(
    "dedup_incremental",
    f"""
    WITH {_MINHASH_BANDS_SQL},
    cand AS (
      SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
      FROM bands n JOIN bands c
        ON n.band_idx = c.band_idx AND n.band_key = c.band_key
      WHERE n.id % 10 = 0 AND c.id % 10 <> 0),
    sh AS (SELECT id, unnest(shingles) AS shingle FROM sh0),
    sizes AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY id),
    common AS (
      SELECT p.new_id, p.corpus_id, count(*) AS n_common
      FROM cand p
      JOIN sh a ON a.id = p.new_id
      JOIN sh b ON b.id = p.corpus_id AND b.shingle = a.shingle
      GROUP BY p.new_id, p.corpus_id)
    SELECT CAST(c.new_id AS BIGINT) AS new_id,
           CAST(c.corpus_id AS BIGINT) AS corpus_id,
           CAST(floor(CAST(n_common AS DOUBLE) / (sn.n_shingles + sc.n_shingles - n_common) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS jaccard
    FROM common c
    JOIN sizes sn ON sn.id = c.new_id
    JOIN sizes sc ON sc.id = c.corpus_id
    WHERE CAST(n_common AS DOUBLE) / (sn.n_shingles + sc.n_shingles - n_common) >= CAST(0.5 AS DOUBLE)
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """INCREMENTAL near-dup ingest: the day's new batch (doc_id % 10 ==
    0) probed against the existing corpus's LSH band index WITHOUT any
    corpus-vs-corpus pairing — the daily-pipeline shape where a full
    re-dedup would redo O(corpus²) work. The new batch's band index is
    broadcast (small by construction); at 100 TB the corpus side reads
    its PERSISTED band_projection output instead of re-hashing text.
    Candidates verify by exact Jaccard, candidates only."""
    docs = _docs(spark, sf_dir)
    out = D.incremental_dedup_pairs(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
        threshold=0.5,
    )
    return out.select(_b("new_id"), _b("corpus_id"), "jaccard")


@register(
    "jsonl_roundtrip",
    """
    SELECT CAST(doc_id AS BIGINT) AS id, text, lang, source,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_jsonl_roundtrip(spark, sf_dir):
    """Polymorphic-source coverage: documents written as JSON-lines
    (the LLM-tooling interchange format) and read back with an
    EXPLICIT schema (no inference pass — at 100 TB inference is a
    full extra scan). The oracle reads the original parquet, so the
    value-hash match proves the JSONL write+read round-trip is
    byte-lossless, including non-ASCII text."""
    from .sources.tableio import read_jsonl, write_jsonl

    path = _staging_path(sf_dir, "docs_jsonl", "documents")
    if not (Path(path) / "_SUCCESS").exists():
        write_jsonl(_t(spark, sf_dir, "documents"), path)
    out = read_jsonl(spark, path, "doc_id long, text string, lang string, source string, n_chars long")
    return out.select(
        F.col("doc_id").cast("long").alias("id"), "text", "lang", "source", _b("n_chars")
    )


@register(
    "merge_upsert_documents",
    """
    WITH src AS (
      SELECT doc_id, upper(text) AS text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, 'new ' || text, lang, source, n_chars + 4
      FROM documents WHERE doc_id % 100 = 0)
    SELECT CAST(coalesce(s.doc_id, t.doc_id) AS BIGINT) AS id,
           coalesce(CASE WHEN s.doc_id IS NOT NULL THEN s.text END, t.text) AS text,
           coalesce(CASE WHEN s.doc_id IS NOT NULL THEN s.lang END, t.lang) AS lang,
           CAST(coalesce(CASE WHEN s.doc_id IS NOT NULL THEN s.n_chars END, t.n_chars) AS BIGINT) AS n_chars
    FROM documents t FULL JOIN src s ON s.doc_id = t.doc_id
    """,
)
def q_merge_upsert_documents(spark, sf_dir):
    """SCD1 MERGE (the lakehouse upsert): a correction batch (docs
    %10==0 re-extracted as uppercase) plus genuinely new rows
    (%100==0, shifted ids) merged into the corpus — matched rows
    UPDATE, unmatched INSERT, rest carry over. ONE full-outer
    equi-join; on Iceberg this plan IS `MERGE INTO`."""
    from .operators.merge import merge_upsert

    docs = _t(spark, sf_dir, "documents")
    src = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.upper("text").alias("text"), "lang", "source", "n_chars")
        .unionByName(
            docs.filter(F.col("doc_id") % 100 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new "), F.col("text")).alias("text"),
                "lang",
                "source",
                (F.col("n_chars") + 4).alias("n_chars"),
            )
        )
    )
    out = merge_upsert(docs.select("doc_id", "text", "lang", "source", "n_chars"), src, ["doc_id"])
    return out.select(
        F.col("doc_id").cast("long").alias("id"), "text", "lang", _b("n_chars")
    )


@register(
    "table_diff_documents",
    """
    WITH src AS (
      SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, 'new ' || text FROM documents WHERE doc_id % 100 = 0),
    merged AS (
      SELECT coalesce(s.doc_id, t.doc_id) AS doc_id,
             coalesce(CASE WHEN s.doc_id IS NOT NULL THEN s.text END, t.text) AS text
      FROM documents t FULL JOIN src s ON s.doc_id = t.doc_id)
    SELECT CAST(coalesce(m.doc_id, d.doc_id) AS BIGINT) AS doc_id,
           CASE WHEN m.doc_id IS NULL THEN 'only_left'
                WHEN d.doc_id IS NULL THEN 'only_right'
                ELSE 'changed' END AS status
    FROM documents d FULL JOIN merged m ON m.doc_id = d.doc_id
    WHERE d.doc_id IS NULL OR m.doc_id IS NULL OR d.text <> m.text
    """,
)
def q_table_diff_documents(spark, sf_dir):
    """Keyed table diff (the pre-commit validation primitive): the
    corpus diffed against its post-MERGE version — upper-cased docs
    surface as 'changed' (uppercasing is a no-op only for textless
    rows, which don't exist), inserted ids as 'only_right'. The
    shuffle carries an md5 row digest, not the row (wide tables diff
    in O(1) shuffled bytes/row)."""
    from .operators.merge import merge_upsert, table_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    src = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.upper("text").alias("text"))
        .unionByName(
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 100 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), F.concat(F.lit("new "), F.col("text")).alias("text"))
        )
    )
    merged = merge_upsert(docs, src, ["doc_id"])
    return table_diff(docs, merged, ["doc_id"]).select(_b("doc_id"), "status")


@register(
    "unigram_logprob",
    """
    WITH w AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS word FROM documents),
    f AS (SELECT word, count(*) AS c FROM w GROUP BY word),
    tot AS (SELECT sum(c) AS t FROM f),
    lp AS (SELECT word, ln(CAST(c AS DOUBLE) / t) AS lp FROM f, tot)
    SELECT CAST(w.id AS BIGINT) AS id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(floor(avg(lp.lp) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_logprob
    FROM w JOIN lp ON lp.word = w.word
    GROUP BY w.id
    """,
)
def q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality scoring: mean unigram log-prob per doc
    under the corpus's own distribution. One vocabulary-sized count agg
    (broadcast back), one scoring join, one per-doc mean — the KenLM-
    filter shape without a model artifact."""
    return TS.unigram_logprob(_docs(spark, sf_dir))


@register(
    "bigram_logprob",
    """
    WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
    bg AS (SELECT id, unnest(list_transform(range(1, len(ws)), i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
           FROM w WHERE len(ws) >= 2),
    flat AS (SELECT id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    bc AS (SELECT w1, w2, count(*) AS c2 FROM flat GROUP BY w1, w2),
    uc AS (SELECT w1, count(*) AS c1 FROM flat GROUP BY w1),
    vocab AS (SELECT count(DISTINCT word) AS v
              FROM (SELECT unnest(ws) AS word FROM w) t)
    SELECT CAST(f.id AS BIGINT) AS id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(floor(avg(ln((bc.c2 + 1.0) / (uc.c1 + 1.0 * vocab.v))) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS avg_logprob
    FROM flat f JOIN bc USING (w1, w2) JOIN uc USING (w1), vocab
    GROUP BY f.id
    """,
)
def q_bigram_logprob(spark, sf_dir):
    """CCNet-style perplexity filtering one order up from the unigram
    screen: mean add-1-smoothed bigram log-prob per doc under the
    corpus's own bigram table — word-salad with plausible words but
    implausible ORDER scores low here and passes unigram_logprob.
    Bigrams are per-row array algebra (no shuffle to build); one
    groupBy each for the bigram/context tables, vocab size as a 1-row
    broadcast, then the scoring join + per-doc mean."""
    return TS.bigram_logprob(_docs(spark, sf_dir))


@register(
    "dedup_containment",
    """
    WITH aug AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000000 AS id,
             array_to_string(list_slice(string_split(text, ' '), 3, 12), ' ') AS text
      FROM documents
      WHERE doc_id % 7 = 0 AND len(string_split(text, ' ')) >= 15),
    sh0 AS (
      SELECT id,
             list_distinct(list_transform(range(1, len(string_split(text,' ')) - 1),
                           i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' '))) AS shingles
      FROM aug
      WHERE len(string_split(text,' ')) >= 3),
    sh AS (SELECT id, unnest(shingles) AS shingle FROM sh0),
    sizes AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(sa.n_shingles AS BIGINT) AS n_a,
           CAST(sb.n_shingles AS BIGINT) AS n_b,
           CAST(floor(CAST(n_common AS DOUBLE) / least(sa.n_shingles, sb.n_shingles) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS containment
    FROM common JOIN sizes sa ON sa.id = common.id_a JOIN sizes sb ON sb.id = common.id_b
    WHERE CAST(n_common AS DOUBLE) / least(sa.n_shingles, sb.n_shingles) >= CAST(0.8 AS DOUBLE)
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Containment dedup — the asymmetric-overlap case Jaccard misses:
    a short doc quoted wholesale inside a longer one has tiny Jaccard
    but containment ≈ 1. Input augmented identically in both engines
    with interior excerpts (10 words from position 3 of every 7th doc)
    so the high-containment/low-Jaccard regime is actually exercised:
    every planted excerpt must surface with containment 1.0. Exact
    shingle equi-join (deliberately NOT LSH-seeded — MinHash-band
    recall is Jaccard-driven, which would drop exactly these pairs)."""
    docs = _t(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    excerpts = docs.filter((F.col("doc_id") % 7 == 0) & (F.size(ws) >= 15)).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(ws, 3, 10)).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(excerpts)
    out = D.containment_pairs(aug, threshold=0.8)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "n_a",
        "n_b",
        F.col("containment").cast("double").alias("containment"),
    )


@register(
    "dedup_best_keeper",
    f"""
    WITH RECURSIVE {_RESOLVED_SQL},
    feats AS (
      SELECT doc_id AS id, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_words,
             {_lang_score_sql(TS.LANG_MARKERS["en"])} AS stop_hits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents),
    scored AS (
      SELECT id,
             CAST(floor((least(CAST(n_words AS DOUBLE) / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
                      + least((CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0 END) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
                      + (CAST(1.0 AS DOUBLE) - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END) * CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE))
                   * 1000000 + 0.5) / 1000000 AS DOUBLE) AS quality
      FROM feats),
    ranked AS (
      SELECT r.keeper_id, r.id,
             row_number() OVER (PARTITION BY r.keeper_id ORDER BY s.quality DESC, r.id) AS rk
      FROM resolved r JOIN scored s ON s.id = r.id),
    best AS (SELECT keeper_id, id AS best_id FROM ranked WHERE rk = 1),
    sizes2 AS (SELECT keeper_id, count(*) AS cluster_size FROM resolved GROUP BY keeper_id)
    SELECT CAST(r.id AS BIGINT) AS id,
           CAST(r.keeper_id AS BIGINT) AS keeper_id,
           CAST(z.cluster_size AS BIGINT) AS cluster_size,
           CAST(b.best_id AS BIGINT) AS best_id,
           (r.id = b.best_id) AS is_best
    FROM resolved r JOIN best b ON b.keeper_id = r.keeper_id
    JOIN sizes2 z ON z.keeper_id = r.keeper_id
    """,
)
def q_dedup_best_keeper(spark, sf_dir):
    """Quality-aware keeper election: clusters from the same
    LSH→Jaccard→closure flow, but each cluster keeps its HIGHEST-
    QUALITY member (rounded quality, id-ascending tie-break) — what a
    curation pipeline actually wants when near-dups differ in
    extraction cleanliness. One max_by aggregation per cluster (partial
    agg shrinks the shuffle to one row per cluster)."""
    from .operators.clusters import best_keeper, resolve_duplicates

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    resolved = resolve_duplicates(docs, pairs, id_col="doc_id")
    quality = TS.quality_scores(docs).select("id", "quality")
    out = best_keeper(resolved, quality, "quality")
    return out.select(_b("id"), _b("keeper_id"), _b("cluster_size"), _b("best_id"), "is_best")


@register(
    "csv_roundtrip",
    """
    SELECT CAST(doc_id AS BIGINT) AS id,
           text || ', "quoted, comma" and a
newline tail ' || CAST(doc_id AS VARCHAR) AS text,
           lang
    FROM documents
    """,
)
def q_csv_roundtrip(spark, sf_dir):
    """CSV source fidelity under HOSTILE content: every doc's text is
    first augmented (identically in both engines) with embedded
    commas, double quotes and a literal NEWLINE, written as CSV
    (Spark quotes/escapes as needed) and read back with an explicit
    schema + multiLine (quoted newlines span physical lines — the
    option a naive 100 TB CSV reader gets wrong, silently splitting
    rows). The oracle builds the same augmented text from parquet, so
    the hash match proves escaping round-trips byte-exactly."""
    path = _staging_path(sf_dir, "docs_csv", "documents")
    aug = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.col("text"),
            F.lit(', "quoted, comma" and a\nnewline tail '),
            F.col("doc_id").cast("string"),
        ).alias("text"),
        "lang",
    )
    if not (Path(path) / "_SUCCESS").exists():
        aug.write.mode("overwrite").option("header", "true").csv(path)
    out = (
        spark.read.schema("id long, text string, lang string")
        .option("header", "true")
        .option("multiLine", "true")
        .csv(path)
    )
    return out.select(_b("id"), "text", "lang")


@register(
    "frequent_ngrams",
    f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    sh AS (SELECT unnest(shingles) AS ngram FROM sh0)
    SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs
    FROM sh GROUP BY ngram
    ORDER BY n_docs DESC, ngram LIMIT 20
    """,
)
def q_frequent_ngrams(spark, sf_dir):
    """Corpus boilerplate mining (C4/CCNet pre-step): top-20 word
    3-grams by document frequency — per-doc-distinct shingle explode,
    ONE partial-aggregated count shuffle, TakeOrderedAndProject; total
    (n_docs DESC, ngram ASC) order makes the cutoff deterministic."""
    docs = _docs(spark, sf_dir)
    out = C.frequent_ngrams(docs, k=3, top_n=20)
    return out.select("ngram", F.col("n_docs").cast("long").alias("n_docs"))


@register(
    "strip_boilerplate",
    """
    WITH aug AS (
      SELECT doc_id AS id,
             text || chr(10) || 'visit our website for more' || chr(10) ||
             (CASE WHEN doc_id % 2 = 0 THEN 'subscribe to the newsletter'
                   ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END) AS text
      FROM documents),
    lines AS (
      SELECT id, generate_subscripts(string_split(text, chr(10)), 1) AS pos,
             unnest(string_split(text, chr(10))) AS line
      FROM aug),
    freq AS (SELECT line, count(*) AS line_df
             FROM (SELECT DISTINCT line, id FROM lines) GROUP BY line),
    hot AS (SELECT line FROM freq WHERE line_df >= 100),
    kept AS (SELECT l.id, l.pos, l.line FROM lines l ANTI JOIN hot h ON l.line = h.line),
    rebuilt AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                       count(*) AS n_lines_kept
                FROM kept GROUP BY id)
    SELECT CAST(a.id AS BIGINT) AS id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept
    FROM aug a LEFT JOIN rebuilt r ON a.id = r.id
    """,
)
def q_strip_boilerplate(spark, sf_dir):
    """C4-style boilerplate LINE removal over multi-line docs built
    identically in both engines (every doc gains one corpus-wide
    banner line and either a half-corpus banner or a per-doc unique
    tail): lines in >= 100 distinct docs are stripped; surviving lines
    re-assemble in order; every doc survives (empty text if fully
    boilerplate). Exercises split/posexplode, the distinct->count DF
    chain, the anti-join and the order-restoring regroup end to end."""
    aug = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nvisit our website for more\n"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("subscribe to the newsletter")).otherwise(
                F.concat(F.lit("unique tail "), F.col("doc_id").cast("string"))
            ),
        ).alias("text"),
    )
    out = C.strip_boilerplate_lines(aug, min_doc_freq=100)
    return out.select(_b("id"), "clean_text", F.col("n_lines_kept").cast("long").alias("n_lines_kept"))


@register("compression_ratio", None)
def q_compression_ratio(spark, sf_dir):
    """zlib-deflate compression ratio per doc (Gopher/CCNet repetition
    + entropy signal) — genuinely non-SQL (DuckDB has no deflate), so
    this takes the driver's rows-only check; value goldens and
    determinism are pinned in tests/test_operators.py."""
    docs = _docs(spark, sf_dir)
    return TS.compression_ratios(docs)


@register(
    "compression_ratio_meta",
    """
    WITH w AS (SELECT doc_id AS id, length(text) AS n_chars,
                      string_split(text, ' ') AS ws
               FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(CASE WHEN len(ws) > 0
                THEN floor(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS DOUBLE) AS distinct_word_frac
    FROM w
    """,
)
def q_compression_ratio_meta(spark, sf_dir):
    """Hash-attestable companion to the rows-only `compression_ratio`
    query (r4 verdict #6): the SQL-expressible half of the
    compressibility signal — per-doc char count, word count, and
    distinct-word fraction (the classic cheap proxy for the zlib
    ratio: near-0 distinct_word_frac ⇒ pathological repetition ⇒ low
    deflate ratio). Pure built-in expressions (split / size /
    array_distinct), zero shuffle, exact DuckDB oracle; the zlib ratio
    itself stays in `compression_ratio` under the rows-only check with
    pytest value goldens."""
    docs = _docs(spark, sf_dir)
    ws = F.split(F.col("text"), " ")
    nw = F.size(ws)
    frac = F.when(
        nw > 0,
        F.floor(F.size(F.array_distinct(ws)).cast("double") / nw * 1000000 + F.lit(0.5)) / 1000000,
    ).otherwise(F.lit(0.0))
    return docs.select(
        _b("doc_id").alias("id"),
        F.length("text").cast("long").alias("n_chars"),
        nw.cast("long").alias("n_words"),
        frac.cast("double").alias("distinct_word_frac"),
    )


@register(
    "dedup_substring",
    """
    WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
    g0 AS (
      SELECT id, list_transform(range(1, len(ws) - 3),
                 i -> md5(array_to_string(list_slice(ws, i, i + 4), ' '))) AS grams
      FROM w WHERE len(ws) >= 5),
    g AS (SELECT id, generate_subscripts(grams, 1) AS pos, unnest(grams) AS h FROM g0),
    dup AS (SELECT h FROM g GROUP BY h HAVING count(*) > 1),
    ds AS (SELECT g.id, g.pos FROM g JOIN dup USING (h)),
    wx AS (SELECT id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS word FROM w),
    cov AS (SELECT DISTINCT wx.id, wx.wpos
            FROM wx JOIN ds ON wx.id = ds.id AND wx.wpos BETWEEN ds.pos AND ds.pos + 4),
    keep AS (SELECT wx.id, wx.wpos, wx.word
             FROM wx ANTI JOIN cov ON wx.id = cov.id AND wx.wpos = cov.wpos),
    ct AS (SELECT id, string_agg(word, ' ' ORDER BY wpos) AS clean_text FROM keep GROUP BY id),
    agg AS (SELECT id, count(*) AS dup_words FROM cov GROUP BY id)
    SELECT CAST(w.id AS BIGINT) AS id,
           CAST(len(w.ws) AS BIGINT) AS n_words,
           CAST(COALESCE(agg.dup_words, 0) AS BIGINT) AS dup_words,
           CAST(CASE WHEN len(w.ws) > 0
                THEN floor(CAST(COALESCE(agg.dup_words, 0) AS DOUBLE) / len(w.ws) * 1000000 + 0.5) / 1000000
                ELSE 0.0 END AS DOUBLE) AS dup_frac,
           COALESCE(ct.clean_text, '') AS clean_text
    FROM w LEFT JOIN agg ON w.id = agg.id LEFT JOIN ct ON w.id = ct.id
    """,
)
def q_dedup_substring(spark, sf_dir):
    """EXACT substring-span dedup (Lee et al. 2022 shingle-hash
    formulation): any word 5-gram occurring more than once in the
    corpus marks its span duplicated; per doc the span-union size and
    the text with duplicated spans excised. One count shuffle on the
    gram digest + one per-doc start-list shuffle; span union and text
    rebuild are per-row array algebra. The oracle recomputes the
    identical semantics relationally (range join on covered positions),
    so the whole flow value-hash-matches."""
    docs = _docs(spark, sf_dir)
    out = D.substring_dup_stats(docs, k=5)
    return out.select(
        _b("id"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("dup_words").cast("long").alias("dup_words"),
        F.col("dup_frac").cast("double").alias("dup_frac"),
        "clean_text",
    )


@register(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE {_RESOLVED_SQL}
    SELECT CAST(id AS BIGINT) AS id,
           CAST(keeper_id AS BIGINT) AS keeper_id,
           CASE WHEN substr(md5(CAST(keeper_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
                THEN 'test' ELSE 'train' END AS split
    FROM resolved
    """,
)
def q_leakage_safe_split(spark, sf_dir):
    """Contamination-SAFE train/test split: the side is a function of
    the near-dup CLUSTER label (min-id keeper), so near-duplicates can
    never straddle the split — the leak a random per-doc split commits
    and contamination checks then chase. md5-nibble(keeper) in 0..3 ->
    test (25% expected), engine-stable. One projection over the same
    closure dedup_resolve runs."""
    from .operators.clusters import leakage_safe_split

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_dedup_pairs(docs, threshold=0.5)
    out = leakage_safe_split(docs, pairs, id_col="doc_id")
    return out.select(_b("id"), F.col("keeper_id").cast("long").alias("keeper_id"), "split")


@register(
    "token_budget_mix",
    """
    WITH toks AS (
      SELECT doc_id AS id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents),
    cum AS (
      SELECT id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY md5(CAST(id AS VARCHAR)), id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM toks)
    SELECT CAST(id AS BIGINT) AS id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum
    WHERE cum_tokens <= (CASE WHEN lang = 'en' THEN 6000 ELSE 2000 END)
    """,
)
def q_token_budget_mix(spark, sf_dir):
    """Pretraining data-MIXING: each language keeps documents in a
    deterministic md5 systematic order until its token budget is
    exhausted (en 6000 tokens, others 2000 — both genuinely truncate
    at sf0.01). Running sums on (lang, md5-bucket) windows with
    broadcast offsets (no global order), a literal CASE budget lookup — the mixing-weights primitive of a
    100 TB corpus assembly, stable across runs/engines/partitionings
    where df.sample() is none of those."""
    from .operators.curation import token_budget_mix

    docs = _t(spark, sf_dir, "documents")
    return token_budget_mix(docs, {"en": 6000}, default_budget=2000)


@register(
    "quality_percentile_gate",
    f"""
    WITH feats AS (
      SELECT doc_id AS id, lang, length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_words,
             {_lang_score_sql(TS.LANG_MARKERS["en"])} AS stop_hits,
             len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS n_punct
      FROM documents),
    scored AS (
      SELECT id, lang,
             floor((least(CAST(n_words AS DOUBLE) / CAST(50.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
             + least((CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / n_words ELSE 0 END) * CAST(5.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - least((CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0 END) * CAST(10.0 AS DOUBLE), CAST(1.0 AS DOUBLE))) * CAST(0.2 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS quality
      FROM feats),
    r AS (
      SELECT id, lang, quality,
             row_number() OVER (PARTITION BY lang ORDER BY quality DESC, id) AS lang_rank,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM scored)
    SELECT CAST(id AS BIGINT) AS id, lang,
           CAST(quality AS DOUBLE) AS quality,
           CAST(lang_rank AS BIGINT) AS lang_rank,
           CAST(n_lang AS BIGINT) AS n_lang
    FROM r WHERE lang_rank <= ceil(0.6 * n_lang)
    """,
)
def q_quality_percentile_gate(spark, sf_dir):
    """Adaptive per-language quality gate (keep each language's top 60%
    by quality): the percentile-threshold form real curation uses
    (CCNet buckets by per-language perplexity percentile) instead of
    one global cutoff. Spark side is the skew-safe exact rank — local
    row_number per (lang, quality-bucket) + broadcast prefix offsets,
    no one-task-per-language window; the oracle is the naive
    partition-less-per-lang window it must equal bit for bit."""
    from .operators.curation import quality_percentile_gate

    docs = _docs(spark, sf_dir)
    # quality and lang are both projections of the same scan — one
    # fused select instead of quality_scores ⋈ lang (which shuffled
    # both corpus-sized sides for a per-row expression; r6).
    staged = docs.select(
        F.col("doc_id").alias("id"),
        pround(TS._quality_expr(F.col("text")), 6).alias("quality"),
        "lang",
    )
    return quality_percentile_gate(staged, frac=0.6, id_col="id")


@register(
    "nfc_canonicalize",
    """
    WITH aug AS (
      SELECT doc_id AS id,
             text || (CASE WHEN doc_id % 2 = 0
                      THEN ' caf' || chr(101) || chr(769) || ' na' || chr(110) || chr(771) || 'o'
                      ELSE ' plain ascii tail' END) AS text
      FROM documents)
    SELECT CAST(id AS BIGINT) AS id,
           nfc_normalize(text) AS norm_text,
           (text IS DISTINCT FROM nfc_normalize(text)) AS changed,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS n_cp
    FROM aug
    """,
)
def q_nfc_canonicalize(spark, sf_dir):
    """Unicode NFC canonicalization — the step a dedup pipeline must
    run BEFORE hashing (e+U+0301 and precomposed U+00E9 hash apart for
    the same visible text). Input augmented identically in both
    engines: even ids gain combining sequences (NFC rewrites them,
    changed=true, codepoint count shrinks), odd ids a plain ASCII tail
    (identity). Spark side is one Arrow node over unicodedata NFC; the
    oracle is DuckDB's native nfc_normalize — two independent
    implementations of the same Unicode normal form, value-hashed."""
    aug = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" caf" + chr(101) + chr(769) + " na" + chr(110) + chr(771) + "o"),
            ).otherwise(F.lit(" plain ascii tail")),
        ).alias("text"),
    )
    return TS.nfc_normalize_texts(aug)


@register(
    "unigram_kl_drift",
    """
    WITH w AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
             unnest(string_split(text, ' ')) AS word
      FROM documents),
    counts AS (
      SELECT word, CAST(sum(ia) AS BIGINT) AS c_a,
             CAST(count(*) - sum(ia) AS BIGINT) AS c_b
      FROM w GROUP BY word),
    tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a, CAST(sum(c_b) AS BIGINT) AS n_b,
                   CAST(count(*) AS BIGINT) AS v
            FROM counts)
    SELECT word, c_a, c_b,
           CAST(floor(((c_a + 1.0) / (n_a + 1.0 * v)) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS p_a,
           CAST(floor(((c_b + 1.0) / (n_b + 1.0 * v)) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS p_b,
           CAST(floor(((c_a + 1.0) / (n_a + 1.0 * v))
                      * ln(((c_a + 1.0) / (n_a + 1.0 * v)) / ((c_b + 1.0) / (n_b + 1.0 * v)))
                      * 1000000 + 0.5) / 1000000 AS DOUBLE) AS kl_term
    FROM counts, tot
    """,
)
def q_unigram_kl_drift(spark, sf_dir):
    """Corpus-slice distribution drift: per-word KL(A || B) contributions
    between the English slice and the rest, add-1 smoothed over the
    union vocabulary — the drift monitor run between ingest batches to
    catch a crawler or mix regression. One explode + ONE word groupBy
    (conditional c_a/c_b in the same map-side-combined agg), totals as
    a 1-row broadcast, map-only scoring — word-count cost at 100 TB."""
    return TS.unigram_kl_drift(_docs(spark, sf_dir), slice_col="lang", slice_a="en")


@register(
    "dsir_importance",
    """
    WITH base AS (
      SELECT doc_id AS id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
             string_split(lower(text), ' ') AS w
      FROM documents),
    feats AS (
      SELECT id, ia,
             unnest(w || CASE WHEN len(w) >= 2
                    THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                    ELSE [] END) AS f
      FROM base),
    ex AS (
      SELECT id, ia,
             CAST((strpos('0123456789abcdef', substr(md5(f), 1, 1)) - 1) * 16
                  + strpos('0123456789abcdef', substr(md5(f), 2, 1)) - 1 AS BIGINT) AS b
      FROM feats),
    buckets AS (
      SELECT b, CAST(sum(ia) AS BIGINT) AS c_t, CAST(count(*) AS BIGINT) AS c_all
      FROM ex GROUP BY b),
    tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
                   CAST(sum(c_all) AS BIGINT) AS n_all FROM buckets),
    bterm AS (
      SELECT b,
             CAST(floor((ln((c_t + 1.0) / (n_t + 256.0))
                         - ln((c_all + 1.0) / (n_all + 256.0)))
                        * 1000000 + 0.5) AS BIGINT) AS qterm
      FROM buckets, tot)
    SELECT ex.id AS id, CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(qterm) / 1000000.0 AS DOUBLE) AS logw
    FROM ex JOIN bterm USING (b)
    GROUP BY ex.id
    """,
)
def q_dsir_importance(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): per-document importance
    weight ln(p_target/p_raw) over hashed unigram+bigram buckets, the
    English slice standing in as the trusted target domain. Integer
    bucket counts + int64 micro-quantized per-bucket log terms make the
    per-doc sum associative and bit-identical across engines. One
    explode feeding the 256-key distribution groupBy and the per-doc
    score groupBy; term table + totals broadcast — word-count cost."""
    return C.dsir_scores(_docs(spark, sf_dir), target_pred=F.col("lang") == "en")


@register(
    "shingle_pagerank",
    """
    WITH sh AS (
      SELECT doc_id AS id,
             unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                    i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')))) AS s
      FROM documents),
    dg AS (SELECT id, md5(s) AS g FROM sh),
    sizes AS (SELECT g FROM dg GROUP BY g HAVING count(*) BETWEEN 2 AND 8),
    elig AS (SELECT dg.id, dg.g FROM dg JOIN sizes USING (g)),
    pairs AS (SELECT DISTINCT a.id AS src, b.id AS dst
              FROM elig a JOIN elig b ON a.g = b.g AND a.id < b.id),
    edges AS (SELECT src, dst FROM pairs
              UNION ALL SELECT dst AS src, src AS dst FROM pairs),
    deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM deg),
    s1 AS (SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
           FROM edges e JOIN r0 r ON e.src = r.id JOIN deg d ON e.src = d.id
           GROUP BY e.dst),
    r1 AS (SELECT n.id, CAST(150000 + (17 * coalesce(s1.s, 0)) // 20 AS BIGINT) AS r
           FROM deg n LEFT JOIN s1 ON n.id = s1.id),
    s2 AS (SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
           FROM edges e JOIN r1 r ON e.src = r.id JOIN deg d ON e.src = d.id
           GROUP BY e.dst),
    r2 AS (SELECT n.id, CAST(150000 + (17 * coalesce(s2.s, 0)) // 20 AS BIGINT) AS r
           FROM deg n LEFT JOIN s2 ON n.id = s2.id),
    s3 AS (SELECT e.dst AS id, CAST(sum(r.r // d.deg) AS BIGINT) AS s
           FROM edges e JOIN r2 r ON e.src = r.id JOIN deg d ON e.src = d.id
           GROUP BY e.dst),
    r3 AS (SELECT n.id, CAST(150000 + (17 * coalesce(s3.s, 0)) // 20 AS BIGINT) AS r
           FROM deg n LEFT JOIN s3 ON n.id = s3.id)
    SELECT n.id AS id, n.deg AS deg, CAST(r3.r / 1000000.0 AS DOUBLE) AS rank_val
    FROM deg n JOIN r3 ON n.id = r3.id
    """,
)
def q_shingle_pagerank(spark, sf_dir):
    """Graph centrality over the duplicate-overlap graph: PageRank (3
    fixed iterations, damping 17/20) on edges linking documents that
    share a word 3-gram shingle — surfaces template/boilerplate hub
    families for down-weighting. All-integer micro-unit rank updates
    (truncating DIV is identical in Spark and DuckDB) make the iterated
    result bit-exact cross-engine, same discipline as the quantized
    Lloyd iterations. Digest groups capped at 8 docs: never quadratic
    on hot shingles; each iteration is one equi-join + one groupBy."""
    from .operators.graphrank import shingle_graph_pagerank

    return shingle_graph_pagerank(_docs(spark, sf_dir)).withColumnRenamed(
        "rank", "rank_val"
    )


@register(
    "bpe_pair_counts",
    """
    WITH w AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
      WHERE length(w) >= 2 GROUP BY w),
    p AS (
      SELECT unnest([substr(w, CAST(i AS INT), 2) for i in range(1, length(w))]) AS pair,
             cnt
      FROM w)
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
    FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """,
)
def q_bpe_pair_counts(spark, sf_dir):
    """One round of BPE-tokenizer training (Sennrich et al. 2016): the
    corpus-wide top-50 adjacent character pairs over lowercased
    alphabetic words. Words aggregate to (word, count) FIRST (Zipf: the
    distinct-word table is tiny next to the corpus), then each distinct
    word's pairs explode weighted by count — two partial-agg shuffles +
    one TakeOrdered, expression-only. The (n DESC, pair ASC) cut is a
    total order, so the LIMIT boundary is engine-stable even with tied
    counts."""
    from .operators.encode import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), top_n=50)


@register(
    "tfidf_top_terms",
    """
    WITH t AS (
      SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
    tf AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM t
           WHERE length(term) > 0 GROUP BY id, term),
    dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    sc AS (SELECT id, tf.term AS term,
                  CAST(floor(tf * ln((n + 1.0) / (df + 1.0)) * 1000000 + 0.5) AS BIGINT) AS score
           FROM tf JOIN dfs USING(term), n),
    r AS (SELECT id, term, score,
                 row_number() OVER (PARTITION BY id ORDER BY score DESC, term) AS rk
          FROM sc)
    SELECT CAST(id AS BIGINT) AS id, term, score, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 3
    """,
)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-document keyword extraction: top-3 terms by TF-IDF, the
    score int64-quantized BEFORE ranking so rank order is
    integer-decided cross-engine (ties cut by term ASC — total order).
    One corpus explode feeding tf and df aggs, a 1-row corpus-size
    broadcast, and a doc-partitioned window — no global sort."""
    from .operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register(
    "weighted_sample",
    """
    WITH s AS (
      SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS weight,
             CAST(floor(ln((CAST(concat('0x', substr(md5(concat('0:', CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
                           / 4503599627370496.0)
                        / n_chars * 1000000 + 0.5) AS BIGINT) AS score
      FROM documents WHERE n_chars > 0)
    SELECT id, weight, score FROM s ORDER BY score DESC, id LIMIT 100
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES), weight = n_chars: u is an exact 53-bit md5 double
    (numerator + 0.5 over 2^52 — bit-identical in any engine), the sort
    key int64-quantized before the top-k cut with an id tiebreak. One
    map pass + TakeOrderedAndProject — no shuffle of the data."""
    from .operators.curation import weighted_sample

    return weighted_sample(_docs(spark, sf_dir), "n_chars", k=100)


@register(
    "dedup_prefix_filter",
    f"""
    WITH sh0 AS ({_SHINGLES_SQL}),
    sh AS (SELECT id, unnest(shingles) AS shingle FROM sh0),
    sizes AS (SELECT id, count(*) AS n_shingles FROM sh GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(floor(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) * 1000000 + 0.5) / 1000000 AS DOUBLE) AS jaccard
    FROM common JOIN sizes sa ON sa.id = common.id_a JOIN sizes sb ON sb.id = common.id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= CAST(0.7 AS DOUBLE)
    """,
)
def q_dedup_prefix_filter(spark, sf_dir):
    """EXACT Jaccard>=0.7 pairs via PREFIX FILTERING (All-Pairs /
    PPJoin family): only each doc's rarest n-ceil(0.7n)+1 shingles are
    self-joined (under the global frequency order, qualifying pairs
    must collide inside both prefixes), full sets touched only to
    verify candidates. The ORACLE is deliberately the naive full
    inverted-index form — the value-hash equality IS the proof that
    the pruned distributed plan loses nothing. Hot shingles fall out
    of every prefix by construction (they sort last)."""
    out = D.prefix_filter_jaccard_pairs(_docs(spark, sf_dir), threshold=0.7)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


@register(
    "cms_heavy_hitters",
    """
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    i4 AS (SELECT unnest([0, 1, 2, 3]) AS i),
    th AS (SELECT word, ('0x' || substr(md5(word), 1, 13))::BIGINT AS h FROM tok),
    cells AS (
      SELECT i, (h >> (8 * i)) % 256 AS bucket
      FROM th CROSS JOIN i4),
    sk AS (SELECT i, bucket, count(*) AS cnt FROM cells GROUP BY i, bucket),
    words AS (SELECT DISTINCT word, ('0x' || substr(md5(word), 1, 13))::BIGINT AS h FROM tok),
    probes AS (
      SELECT word, i, (h >> (8 * i)) % 256 AS bucket
      FROM words CROSS JOIN i4),
    est AS (
      SELECT word, min(cnt) AS cms_count
      FROM probes JOIN sk USING (i, bucket)
      GROUP BY word)
    SELECT word, CAST(cms_count AS BIGINT) AS cms_count
    FROM est ORDER BY cms_count DESC, word ASC LIMIT 20
    """,
)
def q_cms_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters: top-20 words by CMS-estimated frequency
    (d=4 hash rows x w=256 buckets = 1024 cells TOTAL, corpus-size
    independent — the mergeable frequency summary for 100 TB streams;
    sketches of shards ADD cell-wise). Estimates are integers (min over
    the word's 4 bucket counts, an overestimate never an undercount) so
    the oracle matches exactly; ties at the cut break on the word. The
    probe side broadcasts the 1024-cell sketch — no join ever carries
    the corpus."""
    out = SK.cms_heavy_hitters(_docs(spark, sf_dir), "text", d=4, w=256, top_n=20)
    return out.select("word", F.col("cms_count").cast("long").alias("cms_count"))


@register(
    "quality_classifier",
    """
    WITH t AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) >= 2
                  THEN list_transform(range(1, len(toks)),
                                      i -> toks[i] || '_' || toks[i + 1])
                  ELSE CAST([] AS VARCHAR[]) END AS bis
      FROM t),
    w AS (
      SELECT doc_id, len(toks) AS n_tokens,
             COALESCE(list_sum(list_transform(
               list_concat(toks, bis),
               x -> (('0x' || substr(md5('w:' ||
                        CAST((('0x' || substr(md5(x), 1, 13))::BIGINT % 1024)
                             AS VARCHAR)), 1, 13))::BIGINT % 2001) - 1000)),
               0) AS logit_milli
      FROM g)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(logit_milli AS BIGINT) AS logit_milli,
           CAST(CASE WHEN logit_milli > 0 THEN 1 ELSE 0 END AS INT) AS quality_label
    FROM w
    """,
)
def q_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality classifier inference
    (Joulin et al. 2016; hashing trick, Weinberger et al. 2009) — the
    CCNet/LLaMA-pipeline quality-filter shape as a ZERO-SHUFFLE
    projection: hashed unigram + word-bigram feature slots, integer
    milli-unit weight sum, label = logit > 0. No UDF, no exchange —
    scan → whole-stage-codegen project, so at 100 TB the filter rides
    the scan. Weights derive from slot ids by the md5-prefix integer
    convention (a learned vector would broadcast as an array literal);
    the DuckDB oracle reproduces every feature hash, weight, and logit
    bit-for-bit."""
    from .operators import classifier as CLF

    return CLF.score_documents(
        _t(spark, sf_dir, "documents").select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )


#: Deterministic dirty-URL synthesis from doc_id — identical text runs
#: in Spark SQL and DuckDB. Covers every canonicalization arm: https:443
#: and http:80 (dropped) vs :8080 (kept), mixed-case scheme/host,
#: trailing slash, tracking-only and mixed query strings, fragments.
_URL_SYNTH = """
concat(
  CASE WHEN doc_id % 4 = 0 THEN 'HTTPS' ELSE 'HTTP' END, '://',
  CASE WHEN doc_id % 2 = 0
       THEN 'WWW.Example' || CAST(doc_id % 7 AS STRING) || '.COM'
       ELSE 'blog.Test' || CAST(doc_id % 5 AS STRING) || '.org' END,
  CASE WHEN doc_id % 4 = 0 THEN ':443'
       WHEN doc_id % 4 = 1 THEN ':80'
       WHEN doc_id % 4 = 2 THEN ':8080'
       ELSE '' END,
  '/Path/', CAST(doc_id % 11 AS STRING),
  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 2 = 0 THEN '?b=' || CAST(doc_id % 9 AS STRING) || '&utm_source=feed&a=1'
       WHEN doc_id % 5 = 0 THEN '?utm_campaign=x'
       ELSE '' END,
  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)
"""

_URL_ORACLE = rf"""
WITH u AS (SELECT doc_id, {_URL_SYNTH} AS url FROM documents),
p AS (SELECT doc_id, url,
    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1)) AS authority,
    regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
    regexp_extract(url, '\?([^#]*)', 1) AS query
  FROM u),
q AS (SELECT *, regexp_extract(authority, '^([^:]*)', 1) AS host,
               regexp_extract(authority, ':([0-9]+)$', 1) AS port FROM p),
r AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(string_split(query, '&'),
        x -> x <> '' AND NOT starts_with(x, 'utm_')
             AND string_split(x, '=')[1] NOT IN ('fbclid', 'gclid', 'msclkid', 'ref'))), '&'), '') AS cq
  FROM q)
SELECT doc_id, url,
       scheme || '://' ||
       CASE WHEN (scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443') OR port = ''
            THEN host ELSE host || ':' || port END ||
       path ||
       CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url,
       host
FROM r
"""


@register("url_canonicalize", _URL_ORACLE)
def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (``operators/urltools.py``): dirty URLs
    synthesized deterministically from doc_id (identical synthesis text
    in both engines, covering every arm — default-port drop, case
    folding, trailing slash, tracking-param filter + bytewise param
    sort, fragment drop), canonicalized by TWO independent
    implementations: Spark Column algebra (regexp + filter/array_sort
    HOFs, zero-shuffle codegen projection) vs DuckDB regexp/list
    functions — value-hashed against each other, the NFC-style
    two-impl attestation."""
    from .operators.urltools import canonicalize_url, url_host

    d = _t(spark, sf_dir, "documents").select("doc_id", F.expr(_URL_SYNTH).alias("url"))
    return d.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canon_url"),
        url_host(F.col("url")).alias("host"),
    )


def _drift_profile_sql(src: str) -> str:
    """DuckDB long-form profile of (doc_id, lang, n_chars) over ``src``
    — the oracle mirror of operators/profile.py's single-agg profiler
    (here as three UNION'd aggregates; layout must not change values)."""
    cols = ["doc_id", "lang", "n_chars"]
    parts = [
        f"""SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_repr,
               CAST(max({c}) AS VARCHAR) AS max_repr
        FROM {src}"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


_DRIFT_ORACLE = f"""
WITH newt AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           n_chars
    FROM documents WHERE doc_id % 10 <> 0
),
po AS ({_drift_profile_sql('documents')}),
pn AS ({_drift_profile_sql('newt')}),
o AS (SELECT col_name, n_rows AS n_rows_old,
             CAST(CASE WHEN n_rows = 0 THEN 0 ELSE n_null * 1000000 // n_rows END AS BIGINT) AS null_ppm_old,
             n_distinct AS n_distinct_old, min_repr AS mino, max_repr AS maxo FROM po),
n AS (SELECT col_name, n_rows AS n_rows_new,
             CAST(CASE WHEN n_rows = 0 THEN 0 ELSE n_null * 1000000 // n_rows END AS BIGINT) AS null_ppm_new,
             n_distinct AS n_distinct_new, min_repr AS minn, max_repr AS maxn FROM pn)
SELECT col_name, n_rows_old, n_rows_new, null_ppm_old, null_ppm_new,
       CAST(null_ppm_new - null_ppm_old AS BIGINT) AS null_ppm_delta,
       n_distinct_old, n_distinct_new,
       CAST(CASE WHEN n_distinct_old = 0 THEN 0 ELSE n_distinct_new * 100 // n_distinct_old END AS BIGINT) AS distinct_ratio_x100,
       CAST(CASE WHEN (mino IS DISTINCT FROM minn) OR (maxo IS DISTINCT FROM maxn) THEN 1 ELSE 0 END AS BIGINT) AS minmax_changed
FROM o JOIN n USING (col_name)
"""


@register("profile_drift_documents", _DRIFT_ORACLE)
def q_profile_drift_documents(spark, sf_dir):
    """Snapshot drift report (``operators/profile.py:profile_drift``):
    documents vs a deterministically mutated "next batch" (every 10th
    doc dropped, lang NULLed on every 7th) — per-column null-ppm
    delta, cardinality ratio, and null-safe min/max movement, all
    integer. Exercises every drift arm: doc_id loses rows+cardinality
    with moved bounds, lang gains real nulls, n_chars shifts bounds
    only if the dropped decile held an extremum. One profile scan per
    snapshot (the minimum), joined on col_name."""
    from .operators.profile import profile_drift

    old = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    new = old.filter(F.expr("doc_id % 10 <> 0")).select(
        "doc_id",
        F.expr("CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END").alias("lang"),
        "n_chars",
    )
    return profile_drift(old, new, ["doc_id", "lang", "n_chars"])


@register(
    "orc_roundtrip",
    """
    SELECT CAST(doc_id AS BIGINT) AS id, text, lang, source,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents WHERE n_chars >= 100
    """,
)
def q_orc_roundtrip(spark, sf_dir):
    """Polymorphic-source coverage, ORC edition: documents written as
    ORC and read back THROUGH a pushed filter — the oracle reads the
    original parquet, so the value-hash proves the ORC write+read
    round-trip is lossless AND that the n_chars predicate applied on
    the ORC side selects the identical row set (ORC min/max pushdown
    is exercised, not just format plumbing; the filter reaches the
    scan — see tests/test_tableio.py plan assert)."""
    from .sources.tableio import read_orc, write_orc

    path = _staging_path(sf_dir, "docs_orc", "documents")
    if not (Path(path) / "_SUCCESS").exists():
        write_orc(_t(spark, sf_dir, "documents"), path)
    out = read_orc(spark, path).filter(F.col("n_chars") >= 100)
    return out.select(
        F.col("doc_id").cast("long").alias("id"), "text", "lang", "source", _b("n_chars")
    )


@register(
    "time_travel_read",
    """
    SELECT CAST(doc_id AS BIGINT) AS id, text, lang, source,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_time_travel_read(spark, sf_dir):
    """Snapshot time travel (``sources/snapshots.py``): documents
    committed as version 1, a mutated batch (drift mutation: decile
    dropped, lang NULLed) committed as version 2, then the query reads
    **version 1 back from under the newer version** — the oracle reads
    the original parquet, so the hash proves the historical read is
    bit-exact and unaffected by later commits. Each version commits
    through ``plans.observe.commit``: the data is written first, with
    the manifest's row count and hash observed on that write job, and
    the manifest, the commit point, is published last, atomically."""
    from .sources.snapshots import read_snapshot, write_snapshot

    table = _staging_path(sf_dir, "docs_versioned", "documents")
    if not (Path(table) / "_snapshots" / "v2.json").exists():
        docs = _t(spark, sf_dir, "documents")
        write_snapshot(docs, table)
        mutated = docs.filter(F.expr("doc_id % 10 <> 0")).select(
            "doc_id",
            "text",
            F.expr("CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END").alias("lang"),
            "source",
            "n_chars",
        )
        write_snapshot(mutated, table)
    v1 = read_snapshot(spark, table, version=1)
    return v1.select(
        F.col("doc_id").cast("long").alias("id"), "text", "lang", "source", _b("n_chars")
    )


@register(
    "snapshot_change_feed",
    """
    WITH v2 AS (
        SELECT doc_id, text,
               CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
               source, n_chars
        FROM documents WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id + 1000000, 'new ' || text, lang, source, n_chars + 4
        FROM documents WHERE doc_id % 100 = 0
    )
    SELECT CAST(coalesce(d.doc_id, v.doc_id) AS BIGINT) AS doc_id,
           CASE WHEN v.doc_id IS NULL THEN 'delete'
                WHEN d.doc_id IS NULL THEN 'insert'
                ELSE 'update' END AS change
    FROM documents d FULL JOIN v2 v ON d.doc_id = v.doc_id
    WHERE v.doc_id IS NULL OR d.doc_id IS NULL
       OR (d.text IS DISTINCT FROM v.text)
       OR (d.lang IS DISTINCT FROM v.lang)
       OR (d.source IS DISTINCT FROM v.source)
       OR (d.n_chars IS DISTINCT FROM v.n_chars)
    """,
)
def q_snapshot_change_feed(spark, sf_dir):
    """CDC read between snapshot versions (``sources/snapshots.py:
    snapshot_changes``): documents as v1, a mutated batch as v2 (every
    10th doc deleted, lang NULLed on every 7th = updates, a +1M-keyed
    insert per 100th), then the change feed v1 -> v2 — the incremental
    consumer's alternative to re-reading the table. The digest join
    shuffles an md5 per row, not the row (table_diff); the oracle
    recomputes the same verbs with IS DISTINCT FROM column compares —
    digest inequality == any-column inequality, hash-attested."""
    from .sources.snapshots import snapshot_changes, write_snapshot

    table = _staging_path(sf_dir, "docs_cdc", "documents")
    if not (Path(table) / "_snapshots" / "v2.json").exists():
        docs = _t(spark, sf_dir, "documents")
        write_snapshot(docs, table)
        v2 = docs.filter(F.expr("doc_id % 10 <> 0")).select(
            "doc_id",
            "text",
            F.expr("CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END").alias("lang"),
            "source",
            "n_chars",
        ).unionByName(
            docs.filter(F.expr("doc_id % 100 = 0")).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new "), F.col("text")).alias("text"),
                "lang",
                "source",
                (F.col("n_chars") + 4).alias("n_chars"),
            )
        )
        write_snapshot(v2, table)
    out = snapshot_changes(spark, table, 1, 2, ["doc_id"])
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "change")


@register(
    "sentence_split",
    """
    WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '[^.!?]+[.!?]?') AS s
        FROM documents
    ), u AS (
        SELECT doc_id,
               CAST(generate_subscripts(s, 1) AS BIGINT) AS sent_idx,
               trim(unnest(s)) AS sentence
        FROM t
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, sent_idx, sentence
    FROM u WHERE sentence <> ''
    """,
)
def q_sentence_split(spark, sf_dir):
    """Sentence segmentation (``operators/textstats.py:
    split_sentences``): lookbehind-free pattern (DuckDB's RE2 has no
    lookbehind) + posexplode — map-only JVM fan-out, no Python, no
    shuffle. Indexes count RAW pieces in both engines (filter after
    trim), so the hash attests position semantics too. The Python
    UDTF twin is pytest-pinned equal as the §2.10 API demo; this is
    the hot-path form."""
    from .operators.textstats import split_sentences

    return split_sentences(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "sent_idx", "sentence"
    )
