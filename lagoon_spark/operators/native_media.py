"""Native (JVM / Java ImageIO) media decode tier.

Round-10 verdict task #1: the media plane's last ``weak`` component was
Python-codec throughput (0.22 MB/s/core on JPEG). This module routes
``image/jpeg`` / ``image/png`` / AVI-MJPEG decode through a small Java
UDF pair (``lagoon_spark/java/lagoonspark/media/*.java``) compiled on
first use with the container's JDK and registered per-session via
``spark.udf.registerJavaFunction`` — the decode then runs entirely
inside the executor JVM (javax.imageio), with NO Python worker, NO
Arrow transfer, and the digest/metadata math in built-in functions.

Scale story: on a real cluster the jar ships with ``ADD JAR`` (Spark
distributes it to executors exactly like ``--jars``), the decode is a
row-local JVM map stage, and the only Python in the plan is the driver
building the DataFrame. On lossless content (DC-only solid-block
JPEGs, any PNG) the pixel bytes are bit-identical to the pure-Python
tier, so the m09/m11 digest oracles stay green across tiers; on lossy
real-world JPEGs the two tiers differ by IDCT rounding only (the
parity test pins PSNR > 45 dB).

The tier is selected by ``decode_images(..., tier=...)`` /
``decode_video_frames(..., tier=...)`` in
:mod:`lagoon_spark.operators.multimodal`; ``LAGOON_MEDIA_TIER`` in the
environment forces ``stdlib`` or ``native`` globally (default
``auto``).
"""

from __future__ import annotations

import glob
import os
import subprocess
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_JAVA_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "java")
_SRC_GLOB = os.path.join(_JAVA_DIR, "lagoonspark", "media", "*.java")
_BUILD_DIR = os.path.join(_JAVA_DIR, "build")
_JAR_PATH = os.path.join(_BUILD_DIR, "lagoon-media.jar")

IMAGE_DECODE_FN = "lagoon_image_decode"
AVI_SAMPLE_FN = "lagoon_avi_sample"
GIF_FRAMES_FN = "lagoon_gif_frames"
IMAGE_RESIZE_FN = "lagoon_image_resize"
WAV_SAMPLES_FN = "lagoon_wav_samples"

#: media types whose native pixel layout matches the stdlib tier
#: byte-for-byte on lossless content (gray/RGB/RGBA raw bytes;
#: palette-indexed images return raw INDEX bytes in both tiers). GIF
#: single-frame decode_images stays stdlib under auto: ImageIO returns
#: the first frame at its frame RECT while the stdlib branch reports
#: logical-screen dims, so dims can diverge on offset frames — the
#: multi-frame decode_gif_frames path has no such mismatch and IS
#: auto-native (decode_gif_frames_native below).
NATIVE_AUTO_TYPES = frozenset({"image/jpeg", "image/jpg", "image/png"})


def media_tier() -> str:
    """Global tier override: ``auto`` (default) / ``stdlib`` / ``native``."""
    t = os.environ.get("LAGOON_MEDIA_TIER", "auto").strip().lower()
    if t not in ("auto", "stdlib", "native"):
        raise ValueError(f"LAGOON_MEDIA_TIER must be auto|stdlib|native, got {t!r}")
    return t


def resolve_tier(spark: SparkSession, tier: str, auto_native: bool = True) -> bool:
    """Whether a media operator called with ``tier`` runs its native
    branch. ``LAGOON_MEDIA_TIER`` overrides ``tier``; ``auto`` picks
    native when ``auto_native`` holds (the caller's input suits the
    native tier) and the UDFs register; ``native`` raises when they
    cannot."""
    if tier not in ("auto", "stdlib", "native"):
        raise ValueError(f"tier must be auto|stdlib|native, got {tier!r}")
    env = media_tier()
    eff = env if env != "auto" else tier
    if eff == "native":
        if not register(spark):
            raise RuntimeError("native media tier requested but unavailable (no JDK?)")
        return True
    return eff == "auto" and auto_native and register(spark)


def _spark_classpath() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")


def ensure_jar() -> str:
    """Compile the Java sources and package ``lagoon-media.jar``.

    Cached: rebuilds only when a ``.java`` source is newer than the
    jar. The jar is written atomically (tempfile + rename) so a
    concurrent reader never sees a half-written archive. Raises
    ``RuntimeError`` when no JDK is available.
    """
    sources = sorted(glob.glob(_SRC_GLOB))
    if not sources:
        raise RuntimeError(f"native media Java sources missing under {_JAVA_DIR}")
    if os.path.exists(_JAR_PATH):
        jar_mtime = os.path.getmtime(_JAR_PATH)
        if all(os.path.getmtime(s) <= jar_mtime for s in sources):
            return _JAR_PATH
    import shutil

    javac = shutil.which("javac")
    jar_tool = shutil.which("jar")
    if not javac or not jar_tool:
        raise RuntimeError("no JDK (javac/jar) on PATH — native media tier unavailable")
    classes = os.path.join(_BUILD_DIR, "classes")
    os.makedirs(classes, exist_ok=True)
    subprocess.run(
        [javac, "-encoding", "UTF-8", "-cp", _spark_classpath(), "-d", classes, *sources],
        check=True,
        capture_output=True,
        text=True,
    )
    fd, tmp = tempfile.mkstemp(suffix=".jar", dir=_BUILD_DIR)
    os.close(fd)
    try:
        subprocess.run(
            [jar_tool, "cf", tmp, "-C", classes, "."],
            check=True,
            capture_output=True,
            text=True,
        )
        os.replace(tmp, _JAR_PATH)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return _JAR_PATH


def register(spark: SparkSession) -> bool:
    """Best-effort per-session registration of the native decode UDFs.

    ``ADD JAR`` distributes the jar to executors (the cluster-correct
    mechanism — identical semantics to ``--jars``), then
    ``registerJavaFunction`` binds the UDF classes with explicit return
    schemas. The outcome (True/False) is memoized on the SparkContext
    so a failed toolchain is probed exactly once per session.
    """
    sc = spark.sparkContext
    cached = getattr(sc, "_lagoon_media_native", None)
    if cached is not None:
        return cached
    ok = False
    try:
        jar = ensure_jar()
        # quote for SQL; paths come from this package, not user input
        spark.sql(f"ADD JAR '{jar}'")
        spark.udf.registerJavaFunction(
            IMAGE_DECODE_FN,
            "lagoonspark.media.ImageDecode",
            "struct<width:int,height:int,channels:int,data:binary>",
        )
        spark.udf.registerJavaFunction(
            AVI_SAMPLE_FN,
            "lagoonspark.media.AviSample",
            "struct<n_frames:int,n_sampled:int,width:int,height:int,data:binary>",
        )
        spark.udf.registerJavaFunction(
            GIF_FRAMES_FN,
            "lagoonspark.media.GifFrames",
            "struct<n_frames:int,width:int,height:int,data:binary>",
        )
        spark.udf.registerJavaFunction(
            IMAGE_RESIZE_FN,
            "lagoonspark.media.ImageResize",
            "struct<width:int,height:int,data:binary>",
        )
        spark.udf.registerJavaFunction(
            WAV_SAMPLES_FN,
            "lagoonspark.media.WavSamples",
            "struct<sample_rate:int,samples:array<int>>",
        )
        ok = True
    except Exception:
        ok = False
    sc._lagoon_media_native = ok
    return ok


def _hex_digest(data_col):
    """md5 over the uppercase-hex rendering — the exact digest
    convention of the Python tier (``md5(payload.hex().upper())``);
    Spark's ``hex`` is already uppercase, so this is pure built-ins."""
    return F.md5(F.encode(F.hex(data_col), "utf-8"))


def decode_images_native(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Pure-JVM image decode: same output schema as
    :func:`lagoon_spark.operators.multimodal.decode_images`
    (id, width, height, payload_bytes, payload_digest) with zero Python
    in the executed plan — a row-local map stage at any scale."""
    d = F.call_udf(IMAGE_DECODE_FN, F.col(content_col)).alias("d")
    return (
        df.select(F.col(id_col).cast("long").alias("id"), d)
        .select(
            "id",
            F.col("d.width").alias("width"),
            F.col("d.height").alias("height"),
            F.length("d.data").cast("long").alias("payload_bytes"),
            _hex_digest(F.col("d.data")).alias("payload_digest"),
        )
    )


def decode_gif_frames_native(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Pure-JVM multi-frame GIF decode: same output schema as
    ``decode_gif_frames`` (id, n_frames, width, height, frames_digest);
    the digest covers every frame's raw palette-index bytes
    concatenated — identical to the stdlib tier by construction, since
    ImageIO's GIF reader hands frames back as indexed rasters (no
    palette expansion in either tier)."""
    d = F.call_udf(GIF_FRAMES_FN, F.col(content_col)).alias("d")
    return (
        df.select(F.col(id_col).cast("long").alias("id"), d)
        .select(
            "id",
            F.col("d.n_frames").alias("n_frames"),
            F.col("d.width").alias("width"),
            F.col("d.height").alias("height"),
            _hex_digest(F.col("d.data")).alias("frames_digest"),
        )
    )


def decode_video_frames_native(
    df: DataFrame, id_col: str, content_col: str, *, every: int = 1
) -> DataFrame:
    """Pure-JVM AVI/MJPEG walk + frame-sampled decode: same output
    schema as ``decode_video_frames`` (id, n_frames, n_sampled, width,
    height, frames_digest); the digest covers the sampled frames'
    concatenated pixels, computed with built-in md5/hex."""
    if every < 1:
        raise ValueError(f"every must be >= 1, got {every}")
    d = F.call_udf(AVI_SAMPLE_FN, F.col(content_col), F.lit(every)).alias("d")
    return (
        df.select(F.col(id_col).cast("long").alias("id"), d)
        .select(
            "id",
            F.col("d.n_frames").alias("n_frames"),
            F.col("d.n_sampled").alias("n_sampled"),
            F.col("d.width").alias("width"),
            F.col("d.height").alias("height"),
            _hex_digest(F.col("d.data")).alias("frames_digest"),
        )
    )


def resize_pixels_native(
    df: DataFrame,
    id_col: str,
    width_col: str,
    height_col: str,
    data_col: str,
    *,
    factor: int,
    channels: int = 1,
) -> DataFrame:
    """Pure-JVM box downsample: same output schema and the exact same
    floor-division box-mean rule as the numpy tier
    (:func:`lagoon_spark.operators.multimodal.resize_pixels`), so the
    tiers are byte-identical on EVERY input — integer math has no
    rounding divergence to pin down."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    d = F.call_udf(
        IMAGE_RESIZE_FN,
        F.col(data_col),
        F.col(width_col).cast("int"),
        F.col(height_col).cast("int"),
        F.lit(int(channels)),
        F.lit(int(factor)),
    ).alias("d")
    return (
        df.select(F.col(id_col).cast("long").alias("id"), d)
        .select(
            "id",
            F.col("d.width").alias("width"),
            F.col("d.height").alias("height"),
            F.length("d.data").cast("long").alias("payload_bytes"),
            _hex_digest(F.col("d.data")).alias("payload_digest"),
        )
    )


def decode_audio_samples_native(
    df: DataFrame, id_col: str, content_col: str
) -> DataFrame:
    """Pure-JVM WAV PCM decode: same output schema as
    :func:`lagoon_spark.operators.multimodal.decode_audio_samples`
    (id, sample_rate, samples) with zero Python in the executed plan.
    PCM is lossless and both tiers read the raw stream as little-endian
    int16, so the tiers are BIT-EXACT on every input (parity-tested as
    list equality in test_native_media.py)."""
    d = F.call_udf(WAV_SAMPLES_FN, F.col(content_col)).alias("d")
    return df.select(F.col(id_col).cast("long").alias("id"), d).select(
        "id",
        F.col("d.sample_rate").alias("sample_rate"),
        F.col("d.samples").alias("samples"),
    )
