"""Structured-Streaming encode: micro-batched appends.

The reference's writer is incremental — buffered `Write` + size-triggered
`Flush` (writer/writer.go:228-259) — with no event-time semantics. The Spark
analog is a streaming sink whose every micro-batch runs the same shuffle-free
encode and appends committed row groups; `foreachBatch` gives each batch a
deterministic epoch id, so the manifest records (epoch, rg_id) lineage and a
restarted stream resumes from the checkpoint without re-encoding committed
epochs (Spark's checkpoint + our idempotent epoch dirs).
"""

from __future__ import annotations

import os

from .engine import DEFAULT_TARGET_RAW_BYTES, encode_df
from .manifest import manifest_df
from .schema import ColumnSpec


def streaming_encode(stream_df, specs: list[ColumnSpec], out_root: str, *,
                     checkpoint: str,
                     target_raw_bytes: int = DEFAULT_TARGET_RAW_BYTES,
                     trigger_once: bool = True):
    """readStream DF (tokens schema) → encoded row-group appends.

    Returns the started StreamingQuery."""
    cols = [s.name for s in specs]

    def sink(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        data_dir = os.path.join(out_root, "data", f"epoch={epoch_id}")
        man_dir = os.path.join(out_root, "manifest", f"epoch={epoch_id}")
        enc = encode_df(batch_df, specs, target_raw_bytes=target_raw_bytes)
        enc.write.mode("overwrite").parquet(data_dir)
        spark = batch_df.sparkSession
        manifest_df(spark.read.parquet(data_dir), cols).write.mode("overwrite").parquet(man_dir)

    writer = (stream_df.writeStream
              .foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_decode(spark, enc_root: str, specs: list[ColumnSpec],
                     out_schema, *, max_files_per_trigger: int | None = None):
    """Encoded row-group parquet (the `data/epoch=N` dirs streaming_encode
    appends, or any encode job's output) as a STREAMING source: Spark's
    file source discovers newly committed blob files per micro-batch and
    the same stateless mapInArrow decoder (engine.decode_df) turns them
    into rows — the read mirror of streaming_encode, and the reference's
    incremental reader loop (reader/reader.go:306-327) with exactly-once
    file tracking from the checkpoint instead of caller bookkeeping.

    Returns an UNBOUNDED DataFrame of decoded rows; attach any sink
    (`writeStream.foreachBatch(...)`, memory, kafka). Decode is stateless
    per row group, so no watermark or state store is involved; blob bytes
    still never cross the JVM→Python boundary more than once.
    """
    from .engine import decode_df, encoded_schema, from_arrow_schema

    reader = spark.readStream.schema(from_arrow_schema(encoded_schema(specs)))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    enc = reader.option("recursiveFileLookup", "true") \
                .parquet(os.path.join(enc_root, "data"))
    blobs = enc.select(*[f"{s.name}_blob" for s in specs])
    return decode_df(blobs, specs, out_schema)
