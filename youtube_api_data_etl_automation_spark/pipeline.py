"""The reference's daily ETL (fetch_youtube_data.py:143-200) as one
Spark-native pipeline over the API source scan
(``sources/youtube_api.py::scan``: partitions planned in the driver's
own Python process, read by a ``mapInArrow`` on the executors).

Flow parity (SURVEY.md §3.1):
  E1 channel extract → E2 playlist scan → state read → J1 anti-join →
  P5 empty gate → E3 video extract → T transform block → L1 append →
  L2 dimension overwrite.

Differences by design: every stage is a lazy DataFrame plan; the only eager
points are (a) collecting the *playlist* ids for source control — the
reference's own driver-side step (P3, :149), bounded by channel count —
(b) the empty-delta gate, and (c) staging the delta *video* ids to parquet
(the reference collects these to the driver, :160; at backfill scale that
list is unbounded, so here it never leaves the executors).
State lives in partitioned Parquet, not JDBC; the append re-checks keys at
write time so retries are idempotent (SURVEY.md §7.4 item 2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.incremental import append_delta, overwrite_dim, select_new, sink_exists
from .sources.youtube_api import scan
from .transforms import enrich_videos


def register_source(spark: SparkSession) -> None:
    """Ship the source module BY VALUE to the Python workers.

    cloudpickle serializes importable functions by reference; the Python
    workers of a bare session (one that imports the engine from a
    path-inserted checkout, as ``__spark_entry__`` callers do) cannot
    import this package and would die with ModuleNotFoundError inside
    the scan's mapInArrow function. register_pickle_by_value makes the whole source module travel inside
    the pickle instead, so worker-side code reached from run_etl must live
    in that module."""
    from pyspark import cloudpickle

    from .sources import youtube_api as _src_mod

    cloudpickle.register_pickle_by_value(_src_mod)


# Ids per staged file ⇒ per source-task batch: 2 500 ids = 50 API calls per
# task, so a 1 M-id backfill plans ~400 parallel tasks instead of one giant
# option string. Tune down for more fan-out on slow transports.
IDS_PER_STAGED_FILE = 2_500


def _stage_ids(new_ids: DataFrame, warehouse: str, n_new: int) -> str:
    """Write the delta-id relation to the warehouse staging area, sized so
    each parquet file (= one source task) carries a bounded id batch."""
    ids_dir = os.path.join(warehouse, "_staging", "new_video_ids")
    n_files = max(1, -(-n_new // IDS_PER_STAGED_FILE))
    new_ids.repartition(n_files).write.mode("overwrite").parquet(ids_dir)
    return ids_dir


def run_etl(spark: SparkSession, channel_ids: list[str], warehouse: str,
            transport: str = "fake", seed: int = 42) -> dict[str, int]:
    """One incremental ETL run. Returns per-stage row counts (the reference's
    log counters, fetch_youtube_data.py:72,:102,:137,:162)."""
    register_source(spark)
    opts = {"transport": transport, "seed": str(seed)}
    counts: dict[str, int] = {}

    # E1 — channel dimension (always rebuilt, :146/:198). localCheckpoint:
    # the relation is consumed three times (count, playlist-id collect,
    # the L2 dimension overwrite) and each ACTION would otherwise
    # re-fetch from the API — triple quota burn, and three fetches of a
    # non-snapshot source can disagree, so the ids collected, the count
    # reported, and the rows written could come from different snapshots
    # (r6 review). One fetch, one snapshot.
    channels = scan(
        spark, "channels", channel_ids=",".join(channel_ids), **opts
    ).localCheckpoint()
    counts["channels"] = channels.count()

    # E2 — playlist scan; playlist ids are source control (P3 — the one
    # sanctioned driver-side collect), partition-per-playlist underneath.
    # Same snapshot rule: candidate_ids feeds the count AND the delta
    # anti-join below.
    playlist_ids = [r.playlistId for r in channels.select("playlistId").collect()]
    items = scan(spark, "playlist_items", playlist_ids=",".join(playlist_ids), **opts)
    candidate_ids = items.select("videoId").distinct().localCheckpoint()  # A1 (:103)
    counts["candidate_ids"] = candidate_ids.count()

    # State read + J1 anti-join (key-only scan of the sink, :154-160).
    # S5 sink-exists probe is a real FS check, not try/except around the
    # read — a corrupt or unreadable sink must surface, not be treated as
    # first-run (which would re-append everything).
    video_sink = os.path.join(warehouse, "video_stats")
    if sink_exists(spark, video_sink):
        existing = spark.read.parquet(video_sink).select("videoId")
    else:
        existing = spark.createDataFrame([], "videoId string")
    new_ids = select_new(candidate_ids, existing, "videoId")
    counts["new_videos"] = new_ids.count()

    # P5 — empty-delta gate (:164-165): skip fetch/transform/load entirely.
    if counts["new_videos"] == 0:
        counts["loaded"] = 0
    else:
        # E3 — chunked video fetch. The delta ids are STAGED to parquet and
        # the source reads them per (file, row-group) partition — unlike the
        # reference's driver-side id list (fetch_youtube_data.py:160), a
        # million-id backfill never materializes on the driver or in the
        # plan; only the playlist-id collect above (13 rows, the reference's
        # own P3) stays driver-side. Each staged file bounds one source
        # task's batch (IDS_PER_STAGED_FILE ids ≈ that many /50 API calls).
        ids_dir = _stage_ids(new_ids, warehouse, counts["new_videos"])
        videos_raw = scan(spark, "videos", video_ids_path=ids_dir, **opts)
        # T — the 11→19 column transform block (:171-190), one Project
        video_stats = enrich_videos(videos_raw)
        # L1 — idempotent delta append (:194). 'loaded' is what the append
        # ACTUALLY wrote: on a retry after partial failure the write-time
        # re-filter drops already-landed keys, so new_videos would overstate.
        counts["loaded"] = append_delta(video_stats, video_sink, "videoId")

    # L2 — dimension overwrite on BOTH branches (:196-198)
    overwrite_dim(channels, os.path.join(warehouse, "channel_stats"))
    return counts
