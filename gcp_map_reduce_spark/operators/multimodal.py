"""Multimodal column handling: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the raw bytes as a
``binary`` column with a metadata struct (modality, byte size, provenance),
keep ALL filtering/joining on the metadata (columnar, pushdown-friendly),
and run decode/feature-extraction as Arrow-batched pandas functions via
``mapInPandas`` — bytes stream through Arrow in batches, never row-at-a-time
pickling.

Codecs are PLUGGABLE: ``CODEC_REGISTRY`` maps a modality string to a
``bytes -> dict`` feature extractor, and ``decode_media`` dispatches on
``meta.modality``. The container has no image/audio codec libraries, so
the only registered codec is the deterministic byte-statistics extractor
for the ``text-as-bytes`` modality — registering e.g. a JPEG decoder is
one ``register_codec`` call, and the Spark-side plumbing (schema,
batching, UDF signature, partitioning) is identical and fully tested.

The binary fixture is built from ``documents.text`` (utf-8 bytes) so the
whole path runs on the driver-provided tables. The corpus is ASCII, so
byte statistics equal codepoint statistics — which makes the decode
outputs expressible in the DuckDB oracle: the pandas path is
value-hash-checked end to end, not rows-only.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_map_reduce_spark.plans.registry import query
from gcp_map_reduce_spark.sources.tables import load_table


def build_binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload: binary, meta: struct) — the canonical
    multimodal layout. Metadata is a real struct column so predicates like
    ``meta.n_bytes > x`` prune at the parquet scan when persisted."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text-as-bytes").alias("modality"),
            F.octet_length(payload).alias("n_bytes"),
            F.col("n_chars").alias("n_chars"),
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


# -- pluggable codec registry ----------------------------------------------

# modality -> (payload bytes -> feature dict). Real deployments register
# image/audio/video decoders here; the environment ships none, so the
# deterministic byte-statistics extractor is the registered test codec.
CODEC_REGISTRY: dict[str, Callable[[bytes], dict]] = {}


def register_codec(modality: str, fn: Callable[[bytes], dict]) -> None:
    if modality in CODEC_REGISTRY:
        raise ValueError(f"duplicate codec for modality {modality!r}")
    CODEC_REGISTRY[modality] = fn


def decode_media(payload: bytes, modality: str) -> dict:
    """Decode one payload by dispatching on modality. Raises KeyError with
    the known-modality list if no codec is registered."""
    try:
        fn = CODEC_REGISTRY[modality]
    except KeyError:
        raise KeyError(
            f"no codec registered for modality {modality!r}; "
            f"known: {sorted(CODEC_REGISTRY)}"
        ) from None
    return fn(payload)


def _byte_stats():
    """Deterministic stand-in for a media feature extractor: pure integer
    byte statistics (mean is one double division), reproducible across
    engines/runs. Built as a closure: the codec snapshot ships it to the
    workers by value."""

    def byte_stats(b: bytes) -> dict:
        s = sum(b)
        return {
            "n_bytes": len(b),
            "first_byte": b[0] if len(b) else -1,
            "last_byte": b[-1] if len(b) else -1,
            "byte_sum_mod": s % 997,
            "mean_byte": float(s) / len(b) if len(b) else 0.0,
        }

    return byte_stats


register_codec("text-as-bytes", _byte_stats())


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("last_byte", T.IntegerType()),
        T.StructField("byte_sum_mod", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def make_feature_batches(
    codecs: dict[str, Callable[[bytes], dict]] | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the Arrow-batched feature extractor with a SNAPSHOT of the
    codec registry captured in the closure. Executors run a fresh module
    import, so dispatching against the module-global registry would see
    only import-time codecs — capturing the dict ships runtime-registered
    codecs with the serialized plan (cloudpickle pickles them by value),
    which is also the correct cluster posture: the plan, not executor
    import order, defines the decode behavior."""
    snapshot = dict(CODEC_REGISTRY if codecs is None else codecs)

    def _feature_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                snapshot[m](b) for b, m in zip(pdf["payload"], pdf["modality"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["n_bytes"] = out["n_bytes"].astype("int64")
            out["first_byte"] = out["first_byte"].astype("int32")
            out["last_byte"] = out["last_byte"].astype("int32")
            out["byte_sum_mod"] = out["byte_sum_mod"].astype("int64")
            yield out

    return _feature_batches


_SQL_CODES = "list_transform(split(text, ''), c -> unicode(c))"


_FEATURES_ORACLE = f"""
WITH m AS (
  SELECT doc_id, length(text) AS n,
    COALESCE(list_aggregate({_SQL_CODES}, 'sum'), 0) AS s
  FROM documents
)
SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
  CASE WHEN n > 0 THEN unicode(substring(text, 1, 1)) ELSE -1 END AS first_byte,
  CASE WHEN n > 0 THEN unicode(substring(text, n, 1)) ELSE -1 END AS last_byte,
  CAST(s % 997 AS BIGINT) AS byte_sum_mod,
  CASE WHEN n > 0 THEN CAST(s AS DOUBLE) / n ELSE 0.0 END AS mean_byte
FROM m JOIN documents USING (doc_id)
"""


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    ``mapInPandas`` + the codec registry — the multimodal decode plumbing.
    The ASCII corpus makes byte stats == codepoint stats, so the Python
    decode path is value-hash-checked against a pure-SQL oracle."""
    return (
        build_binary_table(spark, sf_dir)
        .select("doc_id", F.col("meta.modality").alias("modality"), "payload")
        .mapInPandas(make_feature_batches(), schema=FEATURE_SCHEMA)
    )


RESIZE_STRIDE = 4  # keep every 4th byte (stand-in for spatial downsample)
FRAME_SIZE = 256  # bytes per pseudo-frame
FRAME_STEP = 8  # sample every 8th frame

_TRANSFORM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sum_mod", T.LongType()),
    ]
)


def _transform_stats_batches():
    """One pass over payload batches emitting the checkable statistics of
    BOTH binary transforms: the strided resize (1 row/doc, kind='resize')
    and the sampled frames (N rows/doc, kind='frame'). Built as a
    closure so it pickles by value."""

    def transform_stats(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, kinds, idxs, nbytes, sums = [], [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                rs = bytes(b[::RESIZE_STRIDE])
                ids.append(doc_id)
                kinds.append("resize")
                idxs.append(0)
                nbytes.append(len(rs))
                sums.append(sum(rs) % 997)
                n_frames = (len(b) + FRAME_SIZE - 1) // FRAME_SIZE
                for fi in range(0, n_frames, FRAME_STEP):
                    fr = bytes(b[fi * FRAME_SIZE : (fi + 1) * FRAME_SIZE])
                    ids.append(doc_id)
                    kinds.append("frame")
                    idxs.append(fi)
                    nbytes.append(len(fr))
                    sums.append(sum(fr) % 997)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "kind": pd.Series(kinds, dtype="object"),
                    "idx": pd.Series(idxs, dtype="int32"),
                    "n_bytes": pd.Series(nbytes, dtype="int64"),
                    "sum_mod": pd.Series(sums, dtype="int64"),
                }
            )

    return transform_stats


_TRANSFORMS_ORACLE = f"""
WITH resized AS (
  SELECT doc_id, 'resize' AS kind, 0 AS idx,
    list_transform(range(1, length(text) + 1, {RESIZE_STRIDE}),
                   i -> unicode(text[i])) AS codes
  FROM documents
),
framed AS (
  SELECT doc_id, 'frame' AS kind, CAST(fi AS INT) AS idx,
    list_transform(split(substring(text, fi * {FRAME_SIZE} + 1, {FRAME_SIZE}), ''),
                   c -> unicode(c)) AS codes
  FROM documents,
    UNNEST(range(0, CAST(ceil(length(text) / {FRAME_SIZE}.0) AS BIGINT),
                 {FRAME_STEP})) AS t(fi)
),
u AS (SELECT * FROM resized UNION ALL SELECT * FROM framed)
SELECT doc_id, kind, idx, CAST(len(codes) AS BIGINT) AS n_bytes,
  CAST(COALESCE(list_aggregate(codes, 'sum'), 0) % 997 AS BIGINT) AS sum_mod
FROM u
"""


def multimodal_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary transform plumbing, stats view: the strided 'resize'
    (1 row -> 1 row) and the FRAME_SIZE/FRAME_STEP keyframe sampler
    (1 row -> N rows) in one Arrow-batched ``mapInPandas`` pass, emitting
    per-output byte counts + checksums: every value is oracle-checkable
    (ASCII corpus: bytes == codepoints)."""
    return (
        build_binary_table(spark, sf_dir)
        .select("doc_id", "payload")
        .mapInPandas(_transform_stats_batches(), schema=_TRANSFORM_SCHEMA)
    )


@query(
    "corpus_stats",
    oracle="""
SELECT lang AS meta_lang, source AS meta_source, count(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  CAST(SUM(n_chars) AS DOUBLE) / count(*) AS avg_chars,
  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
  CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents GROUP BY lang, source
""",
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source) over the binary table's
    METADATA only — doc counts, char budgets, byte budgets. Never touches
    payload bytes: column pruning keeps the scan narrow (the multimodal
    storage pattern's whole point). Consolidates the former
    corpus_lang_stats + multimodal_stats queries."""
    bt = build_binary_table(spark, sf_dir)
    return bt.groupBy(
        F.col("meta.lang").alias("meta_lang"),
        F.col("meta.source").alias("meta_source"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("meta.n_chars").alias("total_chars"),
        (F.sum("meta.n_chars").cast("double") / F.count("*")).alias("avg_chars"),
        F.sum("meta.n_bytes").alias("total_bytes"),
        F.max("meta.n_bytes").cast("bigint").alias("max_bytes"),
    )


# -- registered suite ------------------------------------------------------


@query(
    "multimodal_suite",
    oracle=f"""
SELECT doc_id, 'features' AS kind, 0 AS idx, n_bytes, byte_sum_mod AS sum_mod,
       first_byte, last_byte, mean_byte
FROM ({_FEATURES_ORACLE})
UNION ALL
SELECT doc_id, kind, idx, n_bytes, sum_mod,
       CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS DOUBLE)
FROM ({_TRANSFORMS_ORACLE})
""",
)
def multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole multimodal decode/transform surface in one tagged union:
    per-payload feature extraction (kind='features') plus the strided
    resize and keyframe-sampler stats (kind='resize'/'frame') — all
    Arrow-batched ``mapInPandas`` over the binary table, consolidated so
    the surface fits one row of the driver's bounded correctness
    window."""
    feats = multimodal_features(spark, sf_dir).select(
        "doc_id",
        F.lit("features").alias("kind"),
        F.lit(0).alias("idx"),
        "n_bytes",
        F.col("byte_sum_mod").alias("sum_mod"),
        "first_byte",
        "last_byte",
        "mean_byte",
    )
    trans = multimodal_transforms(spark, sf_dir).select(
        "doc_id",
        "kind",
        "idx",
        "n_bytes",
        "sum_mod",
        F.lit(None).cast("int").alias("first_byte"),
        F.lit(None).cast("int").alias("last_byte"),
        F.lit(None).cast("double").alias("mean_byte"),
    )
    return feats.unionByName(trans)
