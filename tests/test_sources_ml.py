"""Sources/sinks round-trips (S1-S6), ml supersteps (D1-D5 analogue),
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_csv_roundtrip_with_header_and_inference(spark, tmp_path):
    """S1/S5 parity (assignment1/part2/task.py:22,26): header + inferred
    schema survive a write/read cycle; global sort order preserved."""
    from cs744_big_data_system_spark.sources.readers import read_csv
    from cs744_big_data_system_spark.sources.writers import write_csv

    rows = [("US", "2024-01-02 00:00:00", 2), ("DE", "2024-01-01 00:00:00", 1),
            ("US", "2024-01-01 00:00:00", 3)]
    df = spark.createDataFrame(rows, ["cca2", "timestamp", "v"]).withColumn(
        "timestamp", F.col("timestamp").cast("timestamp")
    )
    out = str(tmp_path / "export_sorted")
    write_csv(df.orderBy(F.col("cca2").asc(), F.col("timestamp").asc()), out)
    back = read_csv(spark, out)
    assert dict(back.dtypes)["timestamp"] == "timestamp"
    got = [(r.cca2, r.v) for r in back.orderBy("cca2", "timestamp").collect()]
    assert got == [("DE", 1), ("US", 3), ("US", 2)]


def test_text_sink_tabs(spark, tmp_path):
    from cs744_big_data_system_spark.sources.readers import read_text
    from cs744_big_data_system_spark.sources.writers import write_text

    df = spark.createDataFrame([("n1", 0.5), ("n2", 1.5)], ["node", "rank"])
    out = str(tmp_path / "ranks_txt")
    write_text(df, out)
    lines = sorted(r.value for r in read_text(spark, out).collect())
    assert lines == ["n1\t0.5", "n2\t1.5"]


def test_events_ts_is_microsecond_timestamp(spark):
    from cs744_big_data_system_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMALL, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0


def test_shard_disjoint_and_deterministic(spark):
    from cs744_big_data_system_spark.ml.superstep import shard

    df = spark.range(1000)
    a = shard(df, 4, seed=14).groupBy("shard_id").count().collect()
    b = shard(df, 4, seed=14).groupBy("shard_id").count().collect()
    assert sorted((r.shard_id, r["count"]) for r in a) == sorted((r.shard_id, r["count"]) for r in b)
    assert sum(r["count"] for r in a) == 1000
    assert {r.shard_id for r in a} == {0, 1, 2, 3}


def test_superstep_tree_aggregate_equals_local(spark):
    """Distributed partial+merge == single-node reduce (the part1 vs
    part2b equivalence, in miniature)."""
    from cs744_big_data_system_spark.ml.superstep import synchronized_superstep

    df = spark.range(256).select((F.col("id") % 10).alias("g"), F.col("id").cast("double").alias("x"))

    def local_sum(it):
        s, n = 0.0, 0
        for row in it:
            s += row.x
            n += 1
        return (s, n)

    def merge(a, b):
        return (a[0] + b[0], a[1] + b[1])

    s, n = synchronized_superstep(df, local_sum, merge, (0.0, 0))
    assert n == 256
    assert s == pytest.approx(sum(range(256)))


def test_distributed_vector_mean(spark):
    from cs744_big_data_system_spark.ml.superstep import distributed_vector_mean

    rows = [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [10.0, 20.0])]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    got = {r.label: r.mean_vec for r in distributed_vector_mean(df, group_col="label").collect()}
    assert got[0] == pytest.approx([2.0, 3.0])
    assert got[1] == pytest.approx([10.0, 20.0])


def test_multimodal_features_and_frame_sampling(spark):
    from cs744_big_data_system_spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        synthetic_assets,
    )

    assets = synthetic_assets(spark, 30)
    feats = extract_features(assets).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.feature) == 8 and r.n_bytes == 16  # md5 = 16 bytes
        assert all(0.0 <= x <= 1.0 for x in r.feature)
    frames = frame_sample_plan(assets, every_ms=500)
    # deterministic count: each video of duration d samples ceil(d/500) stamps
    vids = {r.asset_id: r.duration_ms for r in assets.filter("modality='video'").collect()}
    per = frames.groupBy("asset_id").count().collect()
    for r in per:
        d = vids[r.asset_id]
        assert r["count"] == max((d - 1) // 500 + 1, 1)


def test_decode_stub_rejects_unknown_modality():
    from cs744_big_data_system_spark.operators.multimodal import _decode_stub

    with pytest.raises(NotImplementedError):
        _decode_stub(b"xx", "hologram")


def test_linear_sgd_converges_to_closed_form(spark):
    """Full-batch GD on exactly-linear data must recover the true
    weights (the reference's loss-parity check, part2b vs part1)."""
    import numpy as np

    from cs744_big_data_system_spark.ml.linear_sgd import fit_linear

    rng = np.random.RandomState(14)
    X = rng.randn(400, 4)
    w_true = np.array([2.0, -1.0, 0.5, 3.0])
    y = X @ w_true + 0.25  # known bias
    rows = [(x.tolist(), float(t)) for x, t in zip(X, y)]
    df = spark.createDataFrame(rows, ["embedding", "label"]).repartition(4)
    w = fit_linear(df, lr=0.4, iterations=150)
    assert np.allclose(w[:4], w_true, atol=1e-2), w
    assert abs(w[4] - 0.25) < 1e-2, w


def test_default_master_detection():
    """Bare python runs get local[N]; any launcher-provided master is
    respected (spark-submit exports the gateway port; pyspark shell
    exports PYSPARK_SUBMIT_ARGS)."""
    from cs744_big_data_system_spark.session import _default_master

    assert _default_master(8, {}) == "local[8]"
    assert _default_master(8, {"PYSPARK_GATEWAY_PORT": "43211"}) is None
    assert _default_master(8, {"PYSPARK_SUBMIT_ARGS": "--master yarn pyspark-shell"}) is None
    assert _default_master(8, {"PYSPARK_SUBMIT_ARGS": "pyspark-shell"}) == "local[8]"


def test_binary_assets_source_feeds_feature_extraction(spark, tmp_path):
    """S4 end-to-end: files on disk -> binaryFile source -> ASSET_SCHEMA
    -> mapInPandas feature extraction, with features matching the
    decode stub computed directly on the written bytes."""
    import hashlib

    from cs744_big_data_system_spark.operators.multimodal import (
        ASSET_SCHEMA,
        _decode_stub,
        extract_features,
    )
    from cs744_big_data_system_spark.sources.readers import read_binary_assets

    payloads = {
        "a.png": bytes(range(10)),
        "b.wav": b"\xff\x00\x7f" * 5,
        "c.mp4": b"moovbox!",
        "d.dat": b"\x01\x02",          # unknown extension -> default modality
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "skipme.txt").write_bytes(b"not media")

    assets = read_binary_assets(spark, str(tmp_path), glob="*.{png,wav,mp4,dat}")
    # Same names/types as ASSET_SCHEMA (nullability differs: expression
    # columns are nullable, the literal schema pins NOT NULL).
    assert [(f.name, f.dataType) for f in assets.schema] == [
        (f.name, f.dataType) for f in ASSET_SCHEMA
    ]
    rows = {r.asset_id: r for r in assets.collect()}
    assert len(rows) == 4

    def aid(name: str) -> int:
        return int(hashlib.md5(f"file:{tmp_path}/{name}".encode()).hexdigest()[:15], 16)

    assert rows[aid("a.png")].modality == "image"
    assert rows[aid("a.png")].mime == "image/png"
    assert bytes(rows[aid("b.wav")].payload) == payloads["b.wav"]
    assert rows[aid("c.mp4")].modality == "video"
    assert rows[aid("d.dat")].modality == "image"  # default_modality

    feats = {r.asset_id: r for r in extract_features(assets).collect()}
    for name, data in payloads.items():
        r = feats[aid(name)]
        assert r.n_bytes == len(data)
        expected = _decode_stub(data, rows[aid(name)].modality)
        assert [round(x, 6) for x in r.feature] == [round(x, 6) for x in expected]


def test_synthdocs_custom_source_deterministic_and_partitioned(spark):
    """The custom Python Data Source must generate exactly n disjoint
    docs across its input splits, identically on every read and at
    every partition count (generation is a pure function of doc_id)."""
    from cs744_big_data_system_spark.sources.generator import (
        SynthDocsDataSource,
        doc_fields,
    )

    try:
        spark.dataSource.register(SynthDocsDataSource)
    except Exception:
        pass
    read = lambda n, p: (
        spark.read.format("synthdocs").option("n", n).option("partitions", p).load()
    )
    a = {r.doc_id: (r.text, r.lang, r.n_words) for r in read(100, 7).collect()}
    b = {r.doc_id: (r.text, r.lang, r.n_words) for r in read(100, 3).collect()}
    assert len(a) == 100 and a == b  # disjoint ids, partition-count invariant
    did, text, lang, n_words = doc_fields(42)
    assert a[42] == (text, lang, n_words)  # matches the host-side derivation
    assert all(len(t[0].split(" ")) == t[2] for t in a.values())


def test_jsonl_sink_abort_leaves_nothing_visible(spark, tmp_path):
    """Two-phase commit contract: a write where one task fails must
    publish NO visible .jsonl file (only possibly-cleaned .tmp trash);
    a subsequent successful overwrite publishes exactly the data."""
    import pytest

    from cs744_big_data_system_spark.sources.jsonl_sink import JsonlSinkDataSource

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass
    out = str(tmp_path / "sink")

    from pyspark.sql import functions as F2
    poisoned = spark.range(100).repartition(4).select(
        F2.assert_true(F2.col("id") != 57).alias("boom"), "id"
    )
    with pytest.raises(Exception):
        poisoned.write.format("jsonlsink").option("path", out).mode("append").save()
    import os
    visible = [f for f in os.listdir(out)] if os.path.exists(out) else []
    assert not any(f.endswith(".jsonl") for f in visible), visible

    spark.range(10).write.format("jsonlsink").option("path", out).mode("overwrite").save()
    rows = spark.read.json(out, schema="id long").collect()
    assert sorted(r.id for r in rows) == list(range(10))


def test_synthdocs_stream_resumes_from_committed_offset(spark, tmp_path):
    """Two availableNow runs against one checkpoint: run 1 drains docs
    [0, 200); run 2 (source grown to 500) must resume at the COMMITTED
    offset and deliver exactly [200, 500) — no re-delivery, no gap.
    This is the exactly-once source contract of the streaming Python
    Data Source (offset log + readBetweenOffsets replay)."""
    from cs744_big_data_system_spark.sources.generator import SynthDocsDataSource

    try:
        spark.dataSource.register(SynthDocsDataSource)
    except Exception:
        pass
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(n):
        q = (
            spark.readStream.format("synthdocs")
            .option("n", n)
            .option("batch", 1000)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run(200)
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == list(range(200))
    run(500)
    second = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert second == list(range(500))  # resumed, not re-delivered


def test_real_media_decode_roundtrip(spark, tmp_path):
    """S4 with REAL decoders: the test writes actual PPM / 24-bit BMP /
    PCM-WAV files, reads them through the binaryFile source, and the
    mapInPandas pass must produce features computed from the DECODED
    pixels/samples (not the byte stub) — the tagged leading feature and
    known means/rates prove real parsing happened."""
    import hashlib
    import struct
    import wave

    from cs744_big_data_system_spark.operators.multimodal import extract_features
    from cs744_big_data_system_spark.sources.readers import read_binary_assets

    # 2x1 PPM: one red pixel, one blue pixel.
    (tmp_path / "img.ppm").write_bytes(b"P6\n2 1\n255\n" + bytes([255, 0, 0, 0, 0, 255]))
    # 1x1 24-bit BMP, green pixel (BGR on disk), row padded to 4 bytes.
    px_row = bytes([0, 255, 0, 0])
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(px_row), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, len(px_row), 2835, 2835, 0, 0)
        + px_row
    )
    (tmp_path / "img.bmp").write_bytes(bmp)
    # Mono 16-bit PCM WAV at 8 kHz: alternating +/- full-scale-half.
    with wave.open(str(tmp_path / "snd.wav"), "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack("<8h", *([16384, -16384] * 4)))

    assets = read_binary_assets(spark, str(tmp_path), glob="*.{ppm,bmp,wav}")
    feats = {r.asset_id: r for r in extract_features(assets).collect()}

    def aid(name: str) -> int:
        return int(hashlib.md5(f"file:{tmp_path}/{name}".encode()).hexdigest()[:15], 16)

    ppm = [round(x, 6) for x in feats[aid("img.ppm")].feature]
    # tag=1, w=2/4096, h=1/4096, means R=0.5 G=0 B=0.5, gray std=0, aspect=2
    assert ppm == [1.0, round(2 / 4096, 6), round(1 / 4096, 6), 0.5, 0.0, 0.5, 0.0, 2.0]

    bmp_f = [round(x, 6) for x in feats[aid("img.bmp")].feature]
    assert bmp_f == [1.0, round(1 / 4096, 6), round(1 / 4096, 6), 0.0, 1.0, 0.0, 0.0, 1.0]

    wav_f = feats[aid("snd.wav")].feature
    assert wav_f[0] == 2.0                      # decoded-audio tag
    assert wav_f[1] == 1.0                      # mono
    assert round(wav_f[2], 6) == round(8000 / 48000, 6)
    assert round(wav_f[3], 6) == round(8 / 8000, 6)          # duration
    assert round(wav_f[4], 4) == 0.5            # RMS of +/-0.5 square wave
    assert wav_f[6] == 1.0                      # zero crossing every sample


def test_resize_images_real_roundtrip(spark, tmp_path):
    """resize_images must decode a real 4x2 PPM, nearest-neighbor
    resample to 2x1, and re-encode decodable PPM output whose pixels
    are the expected source samples; undecodable payloads yield NULL
    rows that survive (no row loss)."""
    import hashlib

    from cs744_big_data_system_spark.operators.multimodal import (
        _decode_ppm,
        resize_images,
    )
    from cs744_big_data_system_spark.sources.readers import read_binary_assets

    # 4x2: row0 = R R G G, row1 = B B W W
    px = bytes(
        [255, 0, 0] * 2 + [0, 255, 0] * 2 + [0, 0, 255] * 2 + [255, 255, 255] * 2
    )
    (tmp_path / "img.ppm").write_bytes(b"P6\n4 2\n255\n" + px)
    (tmp_path / "junk.ppm").write_bytes(b"not an image")

    assets = read_binary_assets(spark, str(tmp_path), glob="*.ppm")
    rows = {r.asset_id: r for r in resize_images(assets, out_w=2, out_h=1).collect()}

    def aid(name: str) -> int:
        return int(hashlib.md5(f"file:{tmp_path}/{name}".encode()).hexdigest()[:15], 16)

    good = rows[aid("img.ppm")]
    assert (good.width, good.height) == (2, 1)
    w, h, small = _decode_ppm(bytes(good.resized))
    assert (w, h) == (2, 1)
    # nearest-neighbor at xs=[0,2], ys=[0] → R, G
    assert small[0, 0].tolist() == [1.0, 0.0, 0.0]
    assert small[0, 1].tolist() == [0.0, 1.0, 0.0]
    assert rows[aid("junk.ppm")].resized is None


def test_mlp_learns_nonlinear_target_linear_cannot(spark):
    """y = x0·x1 (pure interaction) has ZERO linear signal — the best
    linear fit is the mean. The MLP, trained through the identical
    broadcast/treeAggregate superstep, must cut MSE well below that
    baseline, and its loss curve must be monotically useful
    (end << start). Deterministic: seed-fixed init, full-batch."""
    import numpy as np

    from cs744_big_data_system_spark.ml.linear_sgd import fit_linear
    from cs744_big_data_system_spark.ml.mlp import fit_mlp

    rng = np.random.RandomState(14)
    X = rng.uniform(-1, 1, size=(400, 2))
    y = X[:, 0] * X[:, 1]
    rows = [([float(a), float(b)], float(t)) for (a, b), t in zip(X, y)]
    df = spark.createDataFrame(rows, ["embedding", "label"]).repartition(4)

    theta, losses = fit_mlp(df, hidden=8, lr=1.0, iterations=60)
    assert len(losses) == 60
    assert losses[-1] < 0.25 * losses[0]  # converging

    # Linear baseline on the same data: residual variance ~= var(y).
    w = fit_linear(df, lr=0.5, iterations=60)
    Xb = np.hstack([X, np.ones((400, 1))])
    lin_mse = float(np.mean((Xb @ w - y) ** 2))
    var_y = float(np.var(y))
    assert lin_mse > 0.8 * var_y          # linear genuinely can't fit it
    assert losses[-1] < 0.5 * lin_mse     # the MLP can


def test_mlp_loss_merge_is_partition_invariant(spark):
    """Same data in 1 vs 7 partitions: full-batch gradients are sums,
    so the loss curve must agree to float tolerance (the all-reduce
    merge is associative by construction)."""
    import numpy as np

    from cs744_big_data_system_spark.ml.mlp import fit_mlp

    rng = np.random.RandomState(7)
    rows = [([float(a), float(b), float(c)], float(a - b + 0.5 * c))
            for a, b, c in rng.uniform(-1, 1, size=(120, 3))]
    df1 = spark.createDataFrame(rows, ["embedding", "label"]).coalesce(1)
    df7 = spark.createDataFrame(rows, ["embedding", "label"]).repartition(7)
    _, l1 = fit_mlp(df1, hidden=4, lr=0.2, iterations=8)
    _, l7 = fit_mlp(df7, hidden=4, lr=0.2, iterations=8)
    np.testing.assert_allclose(l1, l7, rtol=1e-9)


def test_mlp_arrow_path_matches_driver_numpy(spark):
    """Equivalence gate for the Arrow-transported shard pass: the
    distributed fit (JVM columnar cache → mapInArrow batches → numpy →
    treeAggregate merge) must reproduce a single-process numpy
    reference running the identical full-batch update, epoch for
    epoch, to float-merge tolerance."""
    import numpy as np

    from cs744_big_data_system_spark.ml.mlp import (
        _forward_backward,
        _init_params,
        fit_mlp,
    )

    rng = np.random.RandomState(3)
    X = rng.uniform(-1, 1, size=(150, 5))
    y = np.tanh(X[:, 0]) - 0.5 * X[:, 3]
    rows = [(x.tolist(), float(t)) for x, t in zip(X, y)]
    df = spark.createDataFrame(rows, ["embedding", "label"]).repartition(6)

    _, losses = fit_mlp(df, hidden=4, lr=0.3, iterations=10)

    theta = _init_params(5, 4)
    expected = []
    for _ in range(10):
        grad, sq_err, n = _forward_backward(X, y, theta, 5, 4)
        expected.append(sq_err / n)
        theta = theta - 0.3 * grad / n
    np.testing.assert_allclose(losses, expected, rtol=1e-9)


def test_logreg_learns_separable_data_and_matches_driver_numpy(spark):
    """On linearly separable data the distributed logistic fit must
    reach >95% training accuracy, and its loss/accuracy curves must
    equal a driver-side numpy reference running the identical update
    (the Arrow-superstep equivalence gate, classification edition)."""
    import numpy as np

    from cs744_big_data_system_spark.ml.logreg import _sigmoid, fit_logreg

    rng = np.random.RandomState(11)
    X = rng.uniform(-1, 1, size=(300, 4))
    y = (X[:, 0] + 2.0 * X[:, 1] - 0.5 * X[:, 2] > 0.1).astype(np.float64)
    rows = [(x.tolist(), float(t)) for x, t in zip(X, y)]
    df = spark.createDataFrame(rows, ["embedding", "label"]).repartition(6)

    _, losses, accs = fit_logreg(df, lr=1.0, iterations=30)
    assert accs[-1] > 0.95
    assert losses[-1] < losses[0] * 0.5

    Xb = np.hstack([X, np.ones((300, 1))])
    w = np.zeros(5)
    exp_losses, exp_accs = [], []
    for _ in range(30):
        z = Xb @ w
        p = _sigmoid(z)
        exp_losses.append(float(np.mean(np.logaddexp(0.0, z) - y * z)))
        exp_accs.append(float(np.mean((p >= 0.5) == (y >= 0.5))))
        w = w - 1.0 * (Xb.T @ (p - y)) / 300
    np.testing.assert_allclose(losses, exp_losses, rtol=1e-9)
    assert accs == exp_accs


def test_cnn_backward_matches_finite_differences():
    """The conv layer's analytic gradient must agree with central
    finite differences on a tiny batch — the standard conv-backward
    correctness check, no Spark involved."""
    import numpy as np

    from cs744_big_data_system_spark.ml.cnn import _forward_backward, _init_params

    rng = np.random.RandomState(5)
    X = rng.uniform(-1, 1, size=(6, 64))
    y = rng.uniform(-1, 1, size=6)
    theta = _init_params(2, seed=11)
    grad, _, _ = _forward_backward(X, y, theta, 2)

    eps = 1e-6
    for idx in [0, 5, 17, len(theta) // 2, len(theta) - 2, len(theta) - 1]:
        tp, tm = theta.copy(), theta.copy()
        tp[idx] += eps
        tm[idx] -= eps
        _, lp, _ = _forward_backward(X, y, tp, 2)
        _, lm, _ = _forward_backward(X, y, tm, 2)
        num = (lp - lm) / (2 * eps) / 2.0  # loss is ½·Σ resid²
        assert abs(num - grad[idx]) < 1e-4 * max(1.0, abs(num)), (idx, num, grad[idx])


def test_cnn_fit_loss_decreases(spark):
    """Distributed conv training through the Arrow superstep: the
    full-batch loss curve must decrease substantially and beat the
    predict-the-mean baseline (i.e. the conv stack actually learns)."""
    import numpy as np

    from cs744_big_data_system_spark.ml.cnn import fit_cnn

    rng = np.random.RandomState(9)
    X = rng.uniform(-1, 1, size=(300, 64))
    # Target with local spatial structure a conv can capture:
    # mean of each image's 3x3 top-left patch minus bottom-right patch.
    imgs = X.reshape(-1, 8, 8)
    y = imgs[:, :3, :3].mean(axis=(1, 2)) - imgs[:, 5:, 5:].mean(axis=(1, 2))
    rows = [(x.tolist(), float(t)) for x, t in zip(X, y)]
    df = spark.createDataFrame(rows, ["embedding", "label"]).repartition(5)

    _, losses = fit_cnn(df, n_filters=4, lr=0.5, iterations=40)
    assert len(losses) == 40
    assert losses[-1] < 0.35 * losses[0]
    assert losses[-1] < 0.5 * float(np.var(y))  # beats predicting the mean


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated 2-d blobs: Lloyd's must place one centroid
    per blob (within the blob's spread) and the MSE curve must be
    non-increasing (the Lloyd monotonicity guarantee)."""
    import random

    import numpy as np

    from cs744_big_data_system_spark.ml.kmeans import fit_kmeans

    rng = random.Random(7)
    centers = [(0.0, 0.0), (20.0, 0.0), (0.0, 20.0)]
    rows = []
    for i in range(90):
        cx, cy = centers[i % 3]
        rows.append((i, [cx + rng.gauss(0, 0.5), cy + rng.gauss(0, 0.5)], i % 3))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    centroids, curve = fit_kmeans(df, k=3, iterations=8)
    assert all(a >= b - 1e-9 for a, b in zip(curve, curve[1:]))  # monotone
    got = sorted(tuple(np.round(c, 0)) for c in centroids)
    assert got == sorted((cx, cy) for cx, cy in centers)
    assert curve[-1] < 1.0  # tight blobs: final MSE ~2·0.25


def test_kmeans_deterministic_across_runs(spark):
    import numpy as np

    from cs744_big_data_system_spark.ml.kmeans import fit_kmeans

    rows = [(i, [float(i % 7), float((i * 3) % 11)], 0) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    c1, k1 = fit_kmeans(df, k=4, iterations=5)
    c2, k2 = fit_kmeans(df.repartition(13), k=4, iterations=5)
    assert np.allclose(c1, c2)  # merge is order-insensitive in exact sums
    assert k1 == pytest.approx(k2)


def test_stump_split_separates_planted_feature(spark):
    """A dataset where feature 2 perfectly separates the two classes:
    the best stump must pick feature 2 with a threshold between the
    class bands and reach (near-)zero Gini."""
    import random

    from cs744_big_data_system_spark.ml.tree import best_stump_splits

    rng = random.Random(7)
    rows = []
    for i in range(200):
        label = i % 2
        vec = [rng.uniform(-1, 1) for _ in range(4)]
        vec[2] = rng.uniform(0.5, 1.0) if label else rng.uniform(-1.0, -0.5)
        rows.append((i, vec, label))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    top = best_stump_splits(df, dim=4, bins=16, topk=1).collect()
    assert top[0].s == 2
    assert -0.5 <= top[0].threshold <= 0.5
    assert top[0].gini < 0.05


def test_observation_metrics_ride_the_job(spark):
    """Spark observation metrics: data-quality counters (row count,
    empty-text count, char sum) computed DURING a real action — no
    second pass over the data. The pipeline-telemetry primitive a
    100 TB job uses instead of re-scanning for stats."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cs744_big_data_system_spark.sources.readers import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    expected_rows = docs.count()
    obs = Observation("quality")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.length("text") == 0).cast("long")).alias("empty_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    kept = observed.filter(F.col("n_chars") >= 0).count()  # the real action
    metrics = obs.get
    assert metrics["rows"] == expected_rows == kept
    assert metrics["empty_docs"] == 0
    assert metrics["total_chars"] > 0


def test_dynamic_partition_overwrite(spark):
    """INSERT OVERWRITE with partitionOverwriteMode=dynamic replaces
    ONLY the partitions present in the incoming batch — the idempotent
    backfill primitive (static mode would wipe the whole table)."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="dyn_overwrite_")
    shutil.rmtree(path, ignore_errors=True)
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        base = spark.createDataFrame(
            [(i, i % 3, "old") for i in range(9)], ["id", "p", "tag"]
        )
        base.write.partitionBy("p").parquet(path)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        patch = spark.createDataFrame([(100, 1, "new"), (101, 1, "new")], ["id", "p", "tag"])
        patch.write.mode("overwrite").partitionBy("p").parquet(path)
        got = {(r.p, r.tag) for r in spark.read.parquet(path).collect()}
        assert (0, "old") in got and (2, "old") in got   # untouched partitions
        assert (1, "new") in got and (1, "old") not in got  # replaced partition
        assert spark.read.parquet(path).filter("p = 1").count() == 2
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        shutil.rmtree(path, ignore_errors=True)


def test_parquet_schema_evolution_merge(spark):
    """mergeSchema reads across files written with evolving schemas:
    union of columns, NULLs where a file predates a column — the
    append-only schema-evolution contract a long-lived table needs."""
    import os
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="schema_evo_")
    try:
        spark.createDataFrame([(1, "a")], ["id", "a"]).write.parquet(
            os.path.join(path, "w1")
        )
        spark.createDataFrame([(2, "b", 9.5)], ["id", "a", "score"]).write.parquet(
            os.path.join(path, "w2")
        )
        df = spark.read.option("mergeSchema", "true").parquet(
            os.path.join(path, "w1"), os.path.join(path, "w2")
        )
        rows = {r.id: r for r in df.collect()}
        assert set(df.columns) == {"id", "a", "score"}
        assert rows[1].score is None and rows[2].score == 9.5
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_linear_gd_converges_on_planted_model(spark):
    """GD recovers a planted linear relationship: y = 3 + 2*x1 - x2
    (no noise) — weights approach the truth and MSE shrinks
    monotonically across step counts."""
    import random

    from cs744_big_data_system_spark.ml.linear_gd import linear_gd_fit

    rng = random.Random(11)
    rows = []
    for i in range(300):
        x1, x2 = rng.uniform(-1, 1), rng.uniform(-1, 1)
        rows.append((i, [x1, x2], 3.0 + 2.0 * x1 - x2))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    def mse(w):
        return sum(
            (w[0] + w[1] * x[0] + w[2] * x[1] - y) ** 2 for _, x, y in rows
        ) / len(rows)

    prev = None
    for steps in (2, 8, 32):
        w = [
            r.weight
            for r in linear_gd_fit(df, feature_dims=2, steps=steps, lr=0.3)
            .orderBy("j")
            .collect()
        ]
        cur = mse(w)
        if prev is not None:
            assert cur < prev
        prev = cur
    assert abs(w[0] - 3.0) < 0.2 and abs(w[1] - 2.0) < 0.2 and abs(w[2] + 1.0) < 0.2


def test_logreg_gd_separates_planted_classes(spark):
    """Logistic GD drives training accuracy well above chance on a
    linearly separable planted problem."""
    import math
    import random

    from cs744_big_data_system_spark.ml.linear_gd import logreg_gd_fit

    rng = random.Random(5)
    rows = []
    for i in range(400):
        x1, x2 = rng.uniform(-1, 1), rng.uniform(-1, 1)
        label = 1 if (1.5 * x1 - x2 + rng.gauss(0, 0.1)) > 0 else 0
        rows.append((i, [x1, x2], label))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    w = [
        r.weight
        for r in logreg_gd_fit(df, feature_dims=2, steps=40, lr=1.0)
        .orderBy("j").collect()
    ]
    correct = sum(
        1
        for _, x, yy in rows
        if (1 / (1 + math.exp(-(w[0] + w[1] * x[0] + w[2] * x[1]))) > 0.5) == (yy == 1)
    )
    assert correct / len(rows) > 0.9


def test_naive_bayes_separates_planted_vocabularies(spark):
    """Two classes with disjoint token distributions must classify
    perfectly, and the confusion matrix must partition the corpus."""
    from cs744_big_data_system_spark.ml.naive_bayes import naive_bayes_confusion

    rows = []
    for i in range(30):
        rows.append((i, "apple banana cherry apple banana", "fruit", "s", 10))
        rows.append((100 + i, "bolt nut washer bolt screw", "tool", "s", 10))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {(r.actual_lang, r.pred_lang): r.n_docs
           for r in naive_bayes_confusion(docs, vocab_size=10).collect()}
    assert out == {("fruit", "fruit"): 30, ("tool", "tool"): 30}, out


def test_naive_bayes_prior_decides_empty_docs(spark):
    """A doc with no vocab tokens is scored by priors alone, so it goes
    to the majority class — and it must still appear in the matrix."""
    from cs744_big_data_system_spark.ml.naive_bayes import naive_bayes_confusion

    rows = [(i, "common words here", "big", "s", 10) for i in range(20)]
    rows += [(100 + i, "rare other tokens", "small", "s", 10) for i in range(5)]
    rows.append((999, "", "small", "s", 0))  # empty text
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {(r.actual_lang, r.pred_lang): r.n_docs
           for r in naive_bayes_confusion(docs, vocab_size=10).collect()}
    assert sum(out.values()) == 26
    assert out.get(("small", "big"), 0) >= 1  # the empty doc took the prior


def _png_encode(px, filter_type: int) -> bytes:
    """Minimal test-side PNG encoder: applies the FORWARD scanline
    filter per the spec, deflates, wraps in chunks — exercising the
    decoder's inverse path for every filter type."""
    import struct
    import zlib

    import numpy as np

    h, w, c = px.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        raw.append(filter_type)
        if filter_type == 0:
            enc = line
        elif filter_type == 1:  # Sub
            enc = line.copy()
            enc[c:] = (line[c:] - line[:-c]) % 256
        elif filter_type == 2:  # Up
            enc = (line - prev) % 256
        elif filter_type == 3:  # Average
            left = np.concatenate([np.zeros(c, np.int32), line[:-c]])
            enc = (line - (left + prev) // 2) % 256
        else:  # Paeth
            enc = np.zeros_like(line)
            for i in range(len(line)):
                a = int(line[i - c]) if i >= c else 0
                b = int(prev[i])
                cc = int(prev[i - c]) if i >= c else 0
                pp = a + b - cc
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[i] = (int(line[i]) - pred) % 256
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(typ, body):
        return (
            struct.pack(">I", len(body)) + typ + body
            + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_roundtrip():
    """Every scanline filter (None/Sub/Up/Average/Paeth) and every
    color type (gray, gray+alpha, RGB, RGBA) must reconstruct the
    exact pixels the test encoded."""
    import numpy as np

    from cs744_big_data_system_spark.operators.multimodal import _decode_png

    rng = np.random.RandomState(7)
    for channels in (1, 2, 3, 4):
        px = rng.randint(0, 256, size=(5, 4, channels), dtype=np.uint8)
        for ft in range(5):
            data = _png_encode(px, ft)
            got = _decode_png(data)
            assert got is not None, (channels, ft)
            w, h, out = got
            assert (w, h) == (4, 5)
            keep = {1: 1, 2: 1, 3: 3, 4: 3}[channels]
            want = px[:, :, :keep].astype(np.float64) / 255.0
            assert np.array_equal(out, want), (channels, ft)


def test_png_decode_through_extract_features(spark, tmp_path):
    """A real PNG written to disk must flow binaryFile -> mapInPandas ->
    REAL decoded features (leading tag 1.0, exact channel means)."""
    import numpy as np

    from cs744_big_data_system_spark.operators.multimodal import extract_features
    from cs744_big_data_system_spark.sources.readers import read_binary_assets

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    px[:, :, 0] = 255  # pure red
    (tmp_path / "img.png").write_bytes(_png_encode(px, 4))
    assets = read_binary_assets(spark, str(tmp_path), glob="*.png")
    feats = extract_features(assets).collect()
    assert len(feats) == 1
    f = feats[0].feature
    assert f[0] == 1.0  # real-decode tag
    assert abs(f[3] - 1.0) < 1e-6 and abs(f[4]) < 1e-6 and abs(f[5]) < 1e-6


def test_als_recovers_planted_low_rank_matrix(spark):
    """Ratings generated from a rank-2 factor model: the train RMSE
    must decrease monotonically and end far below the rating scale."""
    import numpy as np

    from cs744_big_data_system_spark.ml.als import als_fit

    rng = np.random.RandomState(3)
    U = rng.rand(20, 2)
    V = rng.rand(15, 2)
    rows = [
        (u, i, float(U[u] @ V[i]))
        for u in range(20)
        for i in range(15)
        if (u + i) % 3 != 0  # hold out a third — matrix still connected
    ]
    ratings = spark.createDataFrame(rows, ["user", "item", "rating"])
    curve = als_fit(ratings, rank=4, iterations=3, reg=0.01).collect()
    rmses = [r.rmse for r in sorted(curve, key=lambda r: r.iteration)]
    assert len(rmses) == 3
    assert rmses[1] <= rmses[0] and rmses[2] <= rmses[1], rmses
    assert rmses[-1] < 0.05, rmses  # planted model ~recovered


def test_als_deterministic_across_runs(spark):
    from cs744_big_data_system_spark.ml.als import als_fit

    rows = [(u, i, float((u * 3 + i) % 7 + 1)) for u in range(8) for i in range(6)]
    ratings = spark.createDataFrame(rows, ["user", "item", "rating"])
    a = als_fit(ratings, rank=3, iterations=2).collect()
    b = als_fit(ratings, rank=3, iterations=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pushdown_generator_narrows_generation(spark):
    """synthdocs_pd accepts doc_id range predicates: the scan output
    equals the plain source's filtered output, and the accepted
    predicates DISAPPEAR from the post-scan Filter node (they were
    translated into the generation range, not re-evaluated)."""
    from cs744_big_data_system_spark.sources.generator import (
        SynthDocsDataSource,
        SynthDocsPushdownDataSource,
    )

    for src in (SynthDocsDataSource, SynthDocsPushdownDataSource):
        try:
            spark.dataSource.register(src)
        except Exception:
            pass
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        pd_df = (
            spark.read.format("synthdocs_pd").option("n", 100).load()
            .filter("doc_id >= 20 AND doc_id < 40")
        )
        plain = (
            spark.read.format("synthdocs").option("n", 100).load()
            .filter("doc_id >= 20 AND doc_id < 40")
        )
        assert sorted(map(tuple, pd_df.collect())) == sorted(map(tuple, plain.collect()))
        plan = pd_df._jdf.queryExecution().executedPlan().toString()
        pre_scan = plan.split("BatchScan")[0]
        assert ">= 20" not in pre_scan and "< 40" not in pre_scan, plan
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_pushdown_reader_keeps_unsupported_filters():
    """The reader must accept only doc_id bounds and hand every other
    predicate back to Spark (the pushFilters contract: returned
    filters are re-evaluated post-scan)."""
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThanOrEqual

    from cs744_big_data_system_spark.sources.generator import SynthDocsPushdownReader

    r = SynthDocsPushdownReader(n=100, num_partitions=4)
    lang_eq = EqualTo(("lang",), "en")
    rest = list(r.pushFilters([GreaterThan(("doc_id",), 9), LessThanOrEqual(("doc_id",), 49), lang_eq]))
    assert rest == [lang_eq]
    assert (r.lo, r.hi) == (10, 50)
    got = sorted(row[0] for p in r.partitions() for row in r.read(p))
    assert got == list(range(10, 50))


def test_write_sharded_one_file_per_shard_in_sorted_order(spark, tmp_path):
    """The reproducible-shard contract: every shard directory holds
    exactly ONE part file (repartition(num_shards, shard) routes a
    shard's rows to a single task) and rows inside it are sorted on
    the order column — same data in, byte-identical layout out."""
    import os

    from pyspark.sql import functions as F

    from cs744_big_data_system_spark.sources.writers import write_sharded

    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 4).cast("int").alias("shard")
    )
    path = str(tmp_path / "shards")
    write_sharded(df, path, "shard", 4, "k")
    for d in sorted(os.listdir(path)):
        if not d.startswith("shard="):
            continue
        parts = [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
        assert len(parts) == 1, (d, parts)
        got = [
            r.k
            for r in spark.read.parquet(os.path.join(path, d, parts[0]))
            .coalesce(1)
            .collect()
        ]
        assert got == sorted(got) and len(got) == 50


def _gd_fits():
    from cs744_big_data_system_spark.ml import linear_gd

    return (
        (linear_gd.linear_gd_fit, linear_gd.sql_linear_gd),
        (linear_gd.logreg_gd_fit, linear_gd.sql_logreg_gd),
    )


def test_gd_fits_spark_jobs_do_not_grow_with_steps(spark):
    """The GD loop runs on the driver: Spark extracts the features once,
    so a fit runs the same jobs at 1 step as at 40."""
    sc = spark.sparkContext
    df = spark.createDataFrame(
        [(i, [i / 100.0, 1.0 - i / 100.0], i % 3) for i in range(100)],
        ["vec_id", "embedding", "label"],
    )

    def jobs(fit, steps):
        group = f"{fit.__name__}_jobs_{steps}"
        sc.setJobGroup(group, group)
        try:
            fit(df, feature_dims=2, steps=steps).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for fit, _ in _gd_fits():
        assert jobs(fit, 1) == jobs(fit, 40) > 0, fit.__name__


def test_gd_fits_equal_duckdb_oracle_with_nulls(spark):
    """Both fits equal their unrolled-CTE DuckDB oracle on a fixture
    with a vector shorter than feature_dims (element_at past the end is
    null), a null label and a negative label: the null rows drop out
    of every gradient mean on both engines, and the logistic target
    keeps the sign of label % 2."""
    import duckdb
    import pyarrow as pa

    from tools.selfcheck import canon

    vecs = [[0.1 * i, (-1) ** i * 0.05 * i, 0.3 - 0.02 * i] for i in range(40)]
    labels = [(i * 7) % 5 for i in range(40)]
    vecs[3] = [0.4, 0.2]
    labels[5] = None
    labels[8] = -3
    table = pa.table(
        {
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    df = spark.createDataFrame(table)
    con = duckdb.connect()
    con.register("embeddings", table)
    for fit, sql in _gd_fits():
        got = fit(df, feature_dims=3, steps=5).toPandas()
        want = con.execute(sql(feature_dims=3, steps=5)).df()
        assert canon(got) == canon(want), fit.__name__
