"""Scene detection + clip table construction (EP1, M1/M2).

Reference shape (utils/scenecut.py:88-127): per video — decode, detect scene
boundaries (PySceneDetect ContentDetector), split with ffmpeg, emit one
nested-JSON record per clip.  Spark shape (SURVEY.md §3 EP1):

    binaryFile scan → mapInPandas(decode once → detect → cut payloads;
    one row per scene) → clip metadata exprs (video_id, clip_id,
    clip_duration) → write parquet

One Python pass, one decode per video, no shuffle or join.  The detector
is the deterministic content-delta analog of ContentDetector (threshold on
mean abs frame delta; reference threshold 30.0, scene_cut.py:191) running
on FVID payloads; a real adapter calls PySceneDetect behind the same
per-video dispatch (``_detect_one``).  The physical ffmpeg split (M2) is
modeled as a frame-range re-encode of the decoded video (``_clip_payload``)
since clips of an FVID are themselves valid FVID.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lvm_datapipe_spark import fakevideo
from lvm_datapipe_spark.functions.strings import clip_id, file_stem

DEFAULT_THRESHOLD = 30.0  # scene_cut.py:191 / utils/scenecut.py:96


def detect_scene_bounds(frames: np.ndarray, fps: float, threshold: float) -> list[tuple]:
    """Content-delta scene detection: boundary wherever the mean absolute
    pixel delta between consecutive frames exceeds ``threshold`` (the
    HSV-delta ContentDetector analog).  Returns [(start_f, end_f_exclusive,
    start_s, end_s), ...] — the whole video as one scene when no boundary
    fires, matching PySceneDetect."""
    n = frames.shape[0]
    if n == 0:
        return []
    deltas = np.abs(np.diff(frames.astype(np.float64), axis=0)).mean(axis=(1, 2))
    bounds = [0] + [i + 1 for i, d in enumerate(deltas) if d > threshold] + [n]
    out = []
    for s, e in zip(bounds[:-1], bounds[1:]):
        out.append((int(s), int(e), s / fps, e / fps))
    return out


def have_pyscenedetect() -> bool:
    import importlib.util

    return importlib.util.find_spec("scenedetect") is not None


def pyscenedetect_bounds(
    data: bytes, threshold: float = DEFAULT_THRESHOLD, scenedetect_mod=None
) -> list[tuple] | None:
    """M1 real adapter — PySceneDetect ContentDetector, the exact reference
    call sequence (scene_cut.py:162-172: open_video → SceneManager →
    add_detector(ContentDetector(threshold)) → detect_scenes →
    get_scene_list).  Scene list timecodes convert to the same
    (start_f, end_f, start_s, end_s) tuples as the content-delta analog.

    ``scenedetect_mod`` is injectable for tests; default imports the real
    package (import-guarded by callers via :func:`have_pyscenedetect`).
    """
    import tempfile

    sd = scenedetect_mod
    if sd is None:
        import scenedetect as sd  # noqa: F811 — optional dependency

    with tempfile.NamedTemporaryFile(suffix=".mp4") as tmp:
        tmp.write(data)
        tmp.flush()
        video = sd.open_video(tmp.name)
        manager = sd.SceneManager()
        manager.add_detector(sd.ContentDetector(threshold=threshold))
        manager.detect_scenes(video)
        scenes = manager.get_scene_list()
    out = []
    for start, end in scenes:
        out.append(
            (
                int(start.get_frames()),
                int(end.get_frames()),
                float(start.get_seconds()),
                float(end.get_seconds()),
            )
        )
    return out


def _detect_one(
    data: bytes, threshold: float
) -> tuple[list[tuple], fakevideo.FakeVideo | None] | None:
    """Per-video dispatch: FVID → (content-delta bounds, the decoded video);
    real containers → (PySceneDetect bounds, None) when importable on this
    worker; else None (F4: the video yields no clips)."""
    if data is None:
        return None
    try:
        if fakevideo.is_fvid(data):
            v = fakevideo.decode(data)
            return detect_scene_bounds(v.frames, v.fps, threshold), v
        if have_pyscenedetect():
            return pyscenedetect_bounds(data, threshold), None
        return None
    except Exception:  # noqa: BLE001 — F4 null-row semantics
        return None


def _clip_payload(
    video: fakevideo.FakeVideo | None, start_f: int, end_f: int
) -> bytes | None:
    """M2 — physical clip split.  The reference shells out to ffmpeg per
    scene (split_video_ffmpeg, utils/scenecut.py:120-121); here the split is
    a frame-range re-encode of the already decoded FVID (a clip of an FVID
    is itself a valid FVID).  No decoded video (a real container) → null
    payload; ``ffmpeg_split_clips`` is the real-container splitter."""
    if video is None:
        return None
    frames = video.frames[start_f:end_f]
    return fakevideo.encode(fakevideo.FakeVideo(video.height, video.width, video.fps, frames))


_CUT_FIELDS = [
    T.StructField("video_path", T.StringType()),
    # every emitted scene has an index, so the column is declared non-null
    T.StructField("clip_index", T.IntegerType(), nullable=False),
    T.StructField("start_frame", T.IntegerType()),
    T.StructField("end_frame", T.IntegerType()),
    T.StructField("start_s", T.DoubleType()),
    T.StructField("end_s", T.DoubleType()),
]
_PAYLOAD_FIELD = T.StructField("clip_content", T.BinaryType())


def have_ffmpeg() -> bool:
    import shutil

    return shutil.which("ffmpeg") is not None


def ffmpeg_split_argv(
    video_path: str, start_s: float, end_s: float, out_path: str
) -> list[str]:
    """The per-scene ffmpeg invocation of split_video_ffmpeg
    (utils/scenecut.py:120-121): accurate seek (``-ss`` after ``-i``),
    duration-bounded, stream re-encode so the cut lands on the exact frame."""
    return [
        "ffmpeg", "-nostdin", "-y",
        "-i", video_path,
        "-ss", f"{start_s:.6f}",
        "-t", f"{end_s - start_s:.6f}",
        "-map", "0",
        "-c:v", "libx264", "-preset", "fast", "-crf", "21",
        "-c:a", "aac",
        out_path,
    ]


def _ffmpeg_split_partition(rows, out_dir: str, runner) -> int:
    """Executor-side body of the M2 ffmpeg adapter: one subprocess per clip
    row, null-safe, counts successful splits.  ``runner`` is the subprocess
    entry point — the real one below, a recorder in tests."""
    n = 0
    for row in rows:
        if row.video_path is None or row.start_s is None or row.end_s is None:
            continue
        out_path = f"{out_dir}/{row.clip_id}.mp4"
        try:
            runner(ffmpeg_split_argv(row.video_path, row.start_s, row.end_s, out_path))
            n += 1
        except Exception:  # noqa: BLE001 — one bad clip must not kill the task
            continue
    return n


def ffmpeg_split_clips(clips: DataFrame, out_dir: str) -> None:
    """M2 real adapter — physically split source videos into per-clip mp4
    files with ffmpeg, one subprocess per clip row, fanned out with
    ``foreachPartition`` (the executors shell out in parallel; no data moves
    through the driver).  Requires the ffmpeg binary on the workers
    (:func:`have_ffmpeg`); ``scene_cut`` remains the in-engine splitter
    for FVID payloads."""
    import subprocess

    def _run(argv):  # pragma: no cover — needs the real binary
        subprocess.run(argv, capture_output=True, check=True)

    def _partition(rows):  # pragma: no cover — executor-side
        _ffmpeg_split_partition(rows, out_dir, _run)

    clips.select("clip_id", "video_path", "start_s", "end_s").foreachPartition(
        _partition
    )


def scene_cut(
    videos: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    threshold: float = DEFAULT_THRESHOLD,
    materialize_clips: bool = True,
) -> DataFrame:
    """EP1 end-to-end: videos(path, content) → one row per scene with the
    reference's clip metadata (+ the clip payload ``clip_content`` when
    ``materialize_clips``; null for non-FVID input).

    One ``mapInPandas`` pass decodes each video once, detects its scenes
    (M1) and cuts their payloads (M2); no shuffle, join or second scan.
    ``video_id`` is the file stem, ``clip_index`` numbers one FILE's scenes
    from 0 in start order (the scene_cut.py:82 loop counter), ``clip_id``
    is ``f'{video_id}_{idx:07d}'`` (C1) and ``clip_duration`` is in seconds
    (C8).  Like the reference, clip ids assume unique stems: two files with
    one stem in different directories each number their own clips from 0.
    A video that fails to decode yields no clips (F4).  The reference's
    joblib chunking / breakpoint-resume scaffolding (scene_cut.py:226-263)
    is replaced by Spark task parallelism + the generic resume anti-join."""
    fields = _CUT_FIELDS + ([_PAYLOAD_FIELD] if materialize_clips else [])
    names = [f.name for f in fields]

    def _cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, data in zip(pdf["video_path"], pdf["content"]):
                got = _detect_one(data, threshold)
                if got is None:
                    continue
                bounds, video = got
                for idx, (s, e, s_s, e_s) in enumerate(bounds):
                    row = (path, idx, s, e, s_s, e_s)
                    if materialize_clips:
                        row += (_clip_payload(video, s, e),)
                    rows.append(row)
            yield pd.DataFrame(rows, columns=names)

    scenes = videos.select(
        F.col(path_col).alias("video_path"), F.col(content_col).alias("content")
    ).mapInPandas(_cut, T.StructType(fields))
    payload = ["clip_content"] if materialize_clips else []
    return scenes.withColumn("video_id", file_stem(F.col("video_path"))).select(
        "video_id",
        "video_path",
        clip_id(F.col("video_id"), F.col("clip_index")).alias("clip_id"),
        "clip_index",
        "start_frame",
        "end_frame",
        "start_s",
        "end_s",
        (F.col("end_s") - F.col("start_s")).alias("clip_duration"),
        *payload,
    )


def boundary_f1(
    pred: DataFrame,
    gold: DataFrame,
    tol_s: float = 0.5,
    video_col: str = "path",
    t_col: str = "start_s",
) -> DataFrame:
    """Scene-boundary detection quality: per-video precision/recall/F1 of
    predicted boundaries against gold at a time tolerance — the eval loop
    for tuning detector thresholds (PySceneDetect's threshold=27, the
    FVID analog's delta) against human-labelled cuts.

    Matching is GREEDY-BY-PROXIMITY made deterministic as one-to-one
    nearest-neighbor within ±tol_s: a range join keyed on the video
    (never a cross product across videos) pairs each prediction with
    candidate gold cuts, then two window passes keep each (pred, gold)
    pair only if each side is the other's best match (distance, then
    earlier time as tie-break).  All shuffles are video-keyed; per-video
    boundary counts are tiny, so the quadratic-within-tolerance candidate
    set is bounded by boundary density, not corpus size.

    F1 uses the 0/0→0 convention (a video with no gold and no predicted
    boundaries scores precision=recall=f1=1).
    """
    p = pred.select(
        F.col(video_col).alias("_v"), F.col(t_col).cast("double").alias("tp")
    ).filter(F.col("tp") > 0)
    g = gold.select(
        F.col(video_col).alias("_v"), F.col(t_col).cast("double").alias("tg")
    ).filter(F.col("tg") > 0)
    cand = p.join(g, "_v").filter(F.abs(F.col("tp") - F.col("tg")) <= tol_s)
    d = F.abs(F.col("tp") - F.col("tg"))
    w_pred = Window.partitionBy("_v", "tp").orderBy(d.asc(), F.col("tg").asc())
    w_gold = Window.partitionBy("_v", "tg").orderBy(d.asc(), F.col("tp").asc())
    matched = (
        cand.withColumn("_rp", F.row_number().over(w_pred))
        .withColumn("_rg", F.row_number().over(w_gold))
        .filter((F.col("_rp") == 1) & (F.col("_rg") == 1))
        .groupBy("_v")
        .agg(F.count(F.lit(1)).alias("n_match"))
    )
    np_ = p.groupBy("_v").agg(F.count(F.lit(1)).alias("n_pred"))
    ng = g.groupBy("_v").agg(F.count(F.lit(1)).alias("n_gold"))
    j = (
        np_.join(ng, "_v", "full_outer")
        .join(matched, "_v", "left_outer")
        .select(
            F.col("_v").alias(video_col),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("n_match", F.lit(0)).alias("n_match"),
        )
    )
    prec = F.when(F.col("n_pred") == 0,
                  F.when(F.col("n_gold") == 0, 1.0).otherwise(0.0)).otherwise(
        F.col("n_match") / F.col("n_pred")
    )
    rec = F.when(F.col("n_gold") == 0,
                 F.when(F.col("n_pred") == 0, 1.0).otherwise(0.0)).otherwise(
        F.col("n_match") / F.col("n_gold")
    )
    f1 = F.when((prec + rec) == 0.0, 0.0).otherwise(2 * prec * rec / (prec + rec))
    return j.select(
        video_col, "n_pred", "n_gold", "n_match",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )
