"""Streaming multimodal ingest (A+B axes x Structured Streaming):
a stream of image rows is decoded, PSNR/caption-verified, and
feature-gated per micro-batch — the live twin of the batch payload
pipeline (payload/images.py), demonstrating that every codec kernel
composes with ``readStream`` unchanged.

The payload operators are stateless Arrow ``mapInPandas`` passes, so
they lift to Structured Streaming with no watermark or state store:
each micro-batch flows through the identical narrow pipeline (bytes
never shuffle), which is exactly why the batch run is a valid oracle
(streaming == batch row-for-row, checked by pytest and the driver
contract's DuckDB twin).

At ingest scale the memory sink below is TEST-ONLY, like the other
drains in this package — production uses the exactly-once parquet
sink pattern (``event_rollup.streaming_rollup_to_parquet``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from osm_legal_default_speeds_spark.payload.images import (
    decode_and_verify,
    image_features,
    images_from_ids,
)
from osm_legal_default_speeds_spark.streaming.event_rollup import drain_to_memory


def read_id_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File stream of ``(id: long)`` parquet rows (one micro-batch per
    trigger; AvailableNow drains the directory)."""
    return spark.readStream.schema("id long").parquet(src_dir)


def streaming_image_verify(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "stream_image_verify",
) -> DataFrame:
    """Drain an id stream through synthesis (real codecs) -> decode +
    pixel/caption verification; append the metadata verdicts to a
    memory sink and return the sink table."""
    verified = decode_and_verify(
        images_from_ids(read_id_stream(spark, src_dir))
    ).select("image_id", "fmt", "pixels_ok", "caption_ok")
    return drain_to_memory(spark, verified, checkpoint_dir, sink_table)


def streaming_image_features(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "stream_image_features",
) -> DataFrame:
    """Drain an id stream through synthesis -> decode -> feature
    extraction (incl. the integer-exact lum/edge totals); append the
    metadata rows to a memory sink and return the sink table."""
    feats = image_features(
        images_from_ids(read_id_stream(spark, src_dir))
    ).select("image_id", "w", "h", "lum_total", "edge_total")
    return drain_to_memory(spark, feats, checkpoint_dir, sink_table)
