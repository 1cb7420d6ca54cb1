"""Native-decoder equality against Java ImageIO via Spark's built-in
``image`` data source — a real, independent native decoder that ships
inside the Spark JVM, so no Pillow is needed. The pure-stdlib PNG decoder
must match it BIT-EXACTLY on real, externally-encoded PNG files (PNG is
lossless); the pure JPEG decoder must match it within the bounds two
conforming T.81 decoders can differ by (IDCT rounding ±1 on luma; chroma
upsampling filter differences — ImageIO applies a triangle/"fancy" filter
where this engine replicates 2x2, a documented implementation choice, so
chroma-heavy pixels can differ by more).

The libpng equality stays additionally asserted by the skip-gated test in
test_png.py wherever Pillow exists.

Test corpus: the sample images the Spark distribution itself ships
(``$SPARK_HOME/data/mllib/images`` — real camera JPEGs and
libpng-encoded PNGs, Apache-2.0)."""

from __future__ import annotations

import glob
import os

import numpy as np
import pytest

_CANDIDATE_IMAGE_DIRS = [
    os.path.join(os.environ.get("SPARK_HOME", ""), "data/mllib/images"),
    "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images",
]
IMAGE_DIR = next((d for d in _CANDIDATE_IMAGE_DIRS if os.path.isdir(d)), None)


def _imageio_rgb(spark, path):
    """Decode via the Spark JVM's Java ImageIO (the `image` source stores
    OpenCV-style BGR(A) row-major bytes) and return (H, W, 3) uint8 RGB."""
    row = spark.read.format("image").load(path).collect()[0]["image"]
    n = row["nChannels"]
    arr = np.frombuffer(bytes(row["data"]), np.uint8).reshape(
        row["height"], row["width"], n
    )
    if n == 1:
        return np.repeat(arr, 3, axis=2)
    return np.ascontiguousarray(arr[:, :, [2, 1, 0]])  # BGR(A) -> RGB


@pytest.mark.skipif(IMAGE_DIR is None, reason="Spark sample images absent")
def test_png_decode_equals_java_imageio(spark):
    """Lossless codec, two independent decoders, real foreign bytes →
    pixel-identical, no tolerance."""
    from tweets_elastic_spark.functions.png import decode_png

    paths = sorted(glob.glob(os.path.join(IMAGE_DIR, "**/*.png"),
                             recursive=True))
    assert paths, "no sample PNGs found"
    for p in paths:
        ours = decode_png(open(p, "rb").read())
        theirs = _imageio_rgb(spark, p)
        assert ours.shape == theirs.shape, p
        assert np.array_equal(ours, theirs), (
            f"{p}: pure decoder != Java ImageIO on a lossless codec"
        )


@pytest.mark.skipif(IMAGE_DIR is None, reason="Spark sample images absent")
def test_jpeg_decode_matches_java_imageio(spark):
    """Lossy codec: conforming decoders may differ by IDCT rounding (±1)
    and by chroma upsampling filter. Bounds: luma mean |Δ| < 0.6 (IDCT
    class), overall mean |Δ| < 2.5 and max |Δ| <= 32 (chroma-filter
    class, concentrated at 2x2 chroma block edges)."""
    from tweets_elastic_spark.functions.jpeg import decode_jpeg

    paths = sorted(glob.glob(os.path.join(IMAGE_DIR, "**/*.jpg"),
                             recursive=True))
    assert len(paths) >= 4, "expected several sample JPEGs"
    for p in paths:
        ours = decode_jpeg(open(p, "rb").read()).astype(float)
        theirs = _imageio_rgb(spark, p).astype(float)
        assert ours.shape == theirs.shape, p
        d = np.abs(ours - theirs)
        y_ours = ours @ np.array([0.299, 0.587, 0.114])
        y_theirs = theirs @ np.array([0.299, 0.587, 0.114])
        y_mean = float(np.abs(y_ours - y_theirs).mean())
        assert y_mean < 0.6, (p, y_mean)
        assert float(d.mean()) < 2.5, (p, float(d.mean()))
        assert float(d.max()) <= 32, (p, float(d.max()))
