"""Python-worker portability: every Python-UDF (mapInPandas) query must
run when the DRIVER's cwd is not the repo root — i.e. the shipped
closures must be self-contained, never referencing package module globals
(cloudpickle serializes those by reference, and the Spark Python workers
may not have the package on their import path)."""

from __future__ import annotations

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
# the two Python-UDF paths: numpy ANN + multimodal feature extraction
n = e.queries()["ann_cosine_topk_np"](spark, "/root/testdata/sf0.001").count()
assert n == 50, n
from lakehouse_adventureworks2022_spark.operators import multimodal
from lakehouse_adventureworks2022_spark.sources.readers import read_table
# real-codec closures: every codec they call is a by-value factory
# product (PNG regressed once in r6 when its decoder was a module-level
# function, pickled by reference)
arr = multimodal.decode_ppm(multimodal.synth_ppm(32, 16, seed=1))
media = spark.createDataFrame(
    [(1, bytearray(multimodal.synth_ppm(32, 16, seed=1)),
      "image/x-portable-pixmap", 32, 16, None),
     (2, bytearray(multimodal.synth_wav(50)), "audio/wav", None, None, 50),
     (3, bytearray(multimodal.encode_png(arr)), "image/png", 32, 16, None),
     (4, bytearray(multimodal.encode_jpeg(arr, quality=95)),
      "image/jpeg", 32, 16, None)],
    schema=multimodal.ASSET_SCHEMA)
real = multimodal.extract_features(media).collect()
assert len(real) == 4 and all(len(r["features"]) == 16 for r in real)
hashes = multimodal.image_hashes(media.filter("asset_id != 2")).collect()
# PPM and PNG hash identically (lossless); JPEG within near-dup range
assert len(hashes) == 3
hs = {r["asset_id"]: r["dhash"] for r in hashes}
assert hs[1] == hs[3]
assert bin((hs[1] ^ hs[4]) & (2**64 - 1)).count("1") <= 6
(audio,) = multimodal.audio_hashes(media.filter("asset_id = 2")).collect()
x, rate, _, _ = multimodal.decode_wav(multimodal.synth_wav(50))
assert audio["dhash"] == multimodal.audio_fingerprint64(x, rate)
(small,) = multimodal.resize_images(
    media.filter("asset_id = 1"), max_px=8).collect()
assert (small["width"], small["height"]) == (8, 4)
assert multimodal.decode_ppm(bytes(small["content"])).shape == (4, 8, 3)
# generated JPEG/PNG/PPM/WAV assets through the dedup composite
docs = read_table(spark, sys.argv[1], "documents").limit(12)
kept = multimodal.clean_assets(multimodal.attach_real_assets(docs)).collect()
assert 0 < len(kept) <= 12, len(kept)
# unigram Viterbi encode closure (by-value piece table)
from lakehouse_adventureworks2022_spark.operators import unigram
useg = unigram.unigram_segment(
    read_table(spark, "/root/testdata/sf0.001", "documents").limit(5),
    {"a": -1.0, "b": -1.5, "ab": -1.2}).collect()
assert len(useg) == 5
# applyInPandas packing closure
from lakehouse_adventureworks2022_spark.operators import curation
docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(20)
packed = curation.pack_documents(docs, budget=300).collect()
assert len(packed) == 20
# KMV estimator closures (audience_overlap failed here while they called
# module-level helpers, pickled by reference)
sf_dir = sys.argv[1]
n = e.queries()["audience_overlap"](spark, sf_dir).count()
assert n > 0, n
from lakehouse_adventureworks2022_spark.operators import theta
events = read_table(spark, sf_dir, "events")
est = theta.kmv_estimate(
    theta.kmv_sketches(events, ["event_type"], "user_id"), ["event_type"]).collect()
assert len(est) > 0 and all(r["est_distinct"] > 0 for r in est)
print("PORTABLE-OK")
spark.stop()
"""


def test_python_udf_queries_run_with_foreign_cwd(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, sf_dir],
        cwd="/tmp",
        capture_output=True,
        text=True,
        # generous: the subprocess cold-starts its own JVM and competes
        # with the rest of the suite for cores on a loaded host
        timeout=600,
    )
    assert "PORTABLE-OK" in proc.stdout, proc.stderr[-2000:]
