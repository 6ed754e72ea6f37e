"""Streaming exact dedup: first-seen-wins over a continuous page stream.

Batch dedup (operators/dedup.py) answers "which of these N docs are
copies"; a crawl ingest pipeline needs the streaming form — drop a page
whose content fingerprint was already seen — without unbounded state.
Two scale regimes:

- ``streaming_dedup_within_watermark``: Spark's native
  ``dropDuplicatesWithinWatermark`` — state is bounded by the watermark
  horizon (a fingerprint older than the watermark is evicted), which is
  the correct contract for crawl streams where re-fetches of the same
  url/content cluster in time. Fully JVM-side, no Python on executors.
- ``stateful_first_seen``: ``applyInPandasWithState`` keeping one
  (first_url, n_dupes) record per fingerprint — lifetime dedup with
  per-key state of O(1) and a duplicate-count metric per batch, the
  pattern when the product needs "how many copies did we drop" rather
  than just the survivors.

Fingerprint = ``operators/text.with_fingerprint`` (md5 of the trimmed,
lower-cased, whitespace-collapsed text), the one
operators/dedup.exact_dedup uses, so batch backfill and streaming ingest
agree on identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import with_fingerprint


def streaming_dedup_within_watermark(spark: SparkSession, source_dir: str,
                                     schema: str, ts_col: str = "warc_ts",
                                     watermark: str = "24 hours",
                                     text_col: str = "text") -> DataFrame:
    """First occurrence of each content fingerprint within the watermark
    horizon survives; later copies are dropped. State size is bounded:
    fingerprints expire once the event-time watermark passes them, so a
    100 TB/day crawl holds ~one day of distinct fingerprints, not the
    corpus lifetime."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    fp = with_fingerprint(stream, text_col)
    return (fp.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["fingerprint"]))


def stateful_first_seen(spark: SparkSession, source_dir: str, schema: str,
                        id_col: str = "url",
                        text_col: str = "text") -> DataFrame:
    """Lifetime first-seen dedup with duplicate accounting.

    Emits one row per fingerprint per micro-batch it appears in:
    (fingerprint, first_id, n_new, n_dupes_total). ``first_id`` is the
    id of the first row ever seen for the fingerprint (ties within one
    batch broken by min(id) for determinism); ``n_dupes_total`` counts
    every later copy across the stream's lifetime. State per key is one
    (string, long) pair.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)
    fp = with_fingerprint(stream, text_col).select(
        "fingerprint", F.col(id_col).alias("_id"))

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd

        ids: list[str] = []
        for pdf in pdfs:
            ids.extend(pdf["_id"].tolist())
        ids.sort()
        if state.exists:
            first_id, dupes = state.get
            new = 0
            dupes += len(ids)
        else:
            first_id, new = ids[0], 1
            dupes = len(ids) - 1
        state.update((first_id, dupes))
        yield pd.DataFrame({
            "fingerprint": [key[0]], "first_id": [first_id],
            "n_new": [new], "n_dupes_total": [dupes]})

    return (fp.groupBy("fingerprint")
            .applyInPandasWithState(
                update,
                outputStructType=("fingerprint string, first_id string, "
                                  "n_new long, n_dupes_total long"),
                stateStructType="first_id string, dupes long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
