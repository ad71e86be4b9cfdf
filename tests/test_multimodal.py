"""Multimodal binary-column plumbing tests (north star).

The decode kernel is a deterministic stub (no codec libs in-container);
what these tests pin down is the Spark-side contract: schema, Arrow batch
shape, determinism, and payload integrity end-to-end through mapInPandas.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from data_pipeline_etl_spark.sources.tables import table
from data_pipeline_etl_spark.streaming import multimodal
from tests.conftest import REPO_DIR, SF_DIR


def test_asset_schema(spark):
    d = table(spark, SF_DIR, "documents")
    assets = multimodal.make_assets(d)
    assert [f.name for f in assets.schema.fields] == [
        "asset_id",
        "doc_id",
        "media_type",
        "payload",
        "meta",
    ]
    assert assets.schema["payload"].dataType.simpleString() == "binary"
    assert (
        assets.schema["meta"].dataType.simpleString()
        == "struct<width:int,height:int,sample_rate:int>"
    )


def test_feature_extraction_contract(spark):
    d = table(spark, SF_DIR, "documents")
    feats = multimodal.extract_features(multimodal.make_assets(d))
    rows = feats.collect()
    assert len(rows) == d.count()
    r0 = min(rows, key=lambda r: r.asset_id)
    # digest matches a locally computed sha256 of the same payload
    text0 = d.where(F.col("doc_id") == r0.doc_id).collect()[0].text
    assert r0.digest == hashlib.sha256(text0.encode()).hexdigest()
    assert r0.n_bytes == len(text0.encode())
    assert len(r0.feat) == 8
    assert all(0.0 <= x <= 1.0 for x in r0.feat)


def test_feature_extraction_deterministic(spark):
    d = table(spark, SF_DIR, "documents")
    a = {r.asset_id: tuple(r.feat) for r in multimodal.extract_features(multimodal.make_assets(d)).collect()}
    b = {r.asset_id: tuple(r.feat) for r in multimodal.extract_features(multimodal.make_assets(d)).collect()}
    assert a == b


def test_frame_sample_offsets(spark):
    d = table(spark, SF_DIR, "documents")
    assets = multimodal.make_assets(d)
    frames = multimodal.frame_sample(assets, every_n_bytes=64)
    one = frames.where(F.col("asset_id") == 0).orderBy("frame_no").collect()
    n_bytes = len(
        d.where(F.col("doc_id") == 0).collect()[0].text.encode()
    )
    expected = (n_bytes - 1) // 64 + 1
    assert len(one) == expected
    assert [r.offset for r in one] == [1 + 64 * i for i in range(expected)]


def test_resize_features_pools_blocks(spark):
    d = table(spark, SF_DIR, "documents")
    feats = multimodal.extract_features(multimodal.make_assets(d))
    small = multimodal.resize_features(feats, out_dim=4)
    rows = {r.asset_id: r for r in small.collect()}
    full = {r.asset_id: r.feat for r in feats.collect()}
    assert all(len(r.feat_small) == 4 for r in rows.values())
    # average pooling: each output element is the mean of its 2-block
    a0 = full[0]
    expect = [sum(a0[i * 2 : i * 2 + 2]) / 2 for i in range(4)]
    got = list(rows[0].feat_small)
    assert all(abs(g - e) < 1e-12 for g, e in zip(got, expect))


def test_wav_bmp_codec_roundtrip():
    """The REAL codec kernels (pure struct+numpy, no media libs):
    WAV PCM16 and BMP 24bpp encode->decode are exact roundtrips."""
    import numpy as np

    samples = (10000 * np.sin(np.arange(2000) / 7.0)).astype(np.int16)
    rate, back = multimodal.decode_wav(multimodal.encode_wav(samples, 22050))
    assert rate == 22050
    assert np.array_equal(back, samples)

    yy, xx = np.mgrid[0:9, 0:13]
    px = np.stack([xx * 19 % 256, yy * 23 % 256, (xx + yy) % 256], axis=-1).astype(
        np.uint8
    )
    assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(px)), px)


def test_wav_decode_walks_riff_chunks():
    """A WAV carrying an extra LIST chunk between fmt and data decodes
    identically (the chunk walk finds data wherever it sits); truncated
    payloads raise ValueError, never garbage samples."""
    import struct

    import numpy as np
    import pytest

    samples = (np.arange(1000) % 97 - 48).astype(np.int16)
    data = samples.tobytes()
    listbody = b"INFOISFT\x0c\x00\x00\x00fake-encoder"
    chunks = (
        struct.pack("<4sI", b"fmt ", 16)
        + struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
        + struct.pack("<4sI", b"LIST", len(listbody))
        + listbody
        + struct.pack("<4sI", b"data", len(data))
        + data
    )
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(chunks), b"WAVE") + chunks
    rate, back = multimodal.decode_wav(wav)
    assert rate == 16000
    assert np.array_equal(back, samples)
    with pytest.raises(ValueError):
        multimodal.decode_wav(wav[:20])  # truncated mid-fmt
    with pytest.raises(ValueError):
        multimodal.decode_wav(wav[:60])  # data chunk cut short


def test_avi_codec_roundtrip():
    """The REAL video kernel: uncompressed-DIB AVI encode->decode is an
    exact roundtrip (frames, fps) through the idx1 index walk."""
    import numpy as np
    import pytest

    ff, yy, xx = np.mgrid[0:5, 0:7, 0:9]
    frames = np.stack(
        [(xx * 29 + ff * 7) % 256, (yy * 31) % 256, (ff * 53) % 256], axis=-1
    ).astype(np.uint8)
    payload = multimodal.encode_avi(frames, fps=12)
    fps, back = multimodal.decode_avi(payload)
    assert fps == 12
    assert np.array_equal(back, frames)
    with pytest.raises(ValueError):
        multimodal.decode_avi(payload[:100])  # idx1 missing
    with pytest.raises(ValueError):
        multimodal.decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


def test_avi_frame_sampling_via_index():
    """sample_avi_frames pulls every k-th frame through the idx1 index:
    sampled frames equal the full decode's [::k] slice, for several k."""
    import numpy as np

    ff, yy, xx = np.mgrid[0:9, 0:6, 0:8]
    frames = np.stack(
        [(xx * 13 + ff * 3) % 256, (yy * 17) % 256, (ff * 41) % 256], axis=-1
    ).astype(np.uint8)
    payload = multimodal.encode_avi(frames, fps=8)
    _, full = multimodal.decode_avi(payload)
    for k in (1, 2, 3, 4):
        fps, sampled = multimodal.sample_avi_frames(payload, every_k=k)
        assert fps == 8
        assert np.array_equal(sampled, full[::k]), k


def test_real_decode_through_arrow_batches(spark):
    """decode_real through mapInPandas over synthesized WAV/BMP/AVI
    assets: every feature row matches the locally-computed truth, proving
    the Arrow byte path delivers payloads unmangled and the kernel is the
    same function on both sides — all three media types decode for real."""
    import numpy as np

    assets = multimodal.make_media_assets(spark)
    feats = {
        r["asset_id"]: (r["media_type"], r["feat"])
        for r in multimodal.extract_features(
            assets, decoder=multimodal.decode_real
        ).collect()
    }
    local = {
        r["asset_id"]: (
            r["media_type"],
            multimodal.decode_real(bytes(r["payload"]), r["media_type"]).tolist(),
        )
        for r in assets.collect()
    }
    assert feats == local
    assert {m for m, _ in feats.values()} == {"audio", "image", "video"}
    # features are physically sensible per media type
    for aid, (mtype, f) in feats.items():
        if mtype == "audio":
            assert f[0] > 0 and 0 < f[1] < 1, (aid, f)  # duration, rms
        elif mtype == "image":
            assert f[3] >= 12 and f[4] >= 8, (aid, f)  # width/height decoded
        else:
            # n_frames, fps decoded; frame-index channel drift => motion > 0
            assert f[0] >= 4 and f[3] == 10 and f[6] > 0, (aid, f)


def test_make_real_assets_roundtrip(spark):
    """make_real_assets synthesizes real BMP/WAV/AVI payloads from fixture
    text in executors; decode_real parses them back through the Arrow path.
    Cross-check one asset of each media type against a locally recomputed
    encode→decode of the same text bytes."""
    import numpy as np

    d = table(spark, SF_DIR, "documents")
    feats = multimodal.extract_features(
        multimodal.make_real_assets(d), decoder=multimodal.decode_real
    )
    rows = {r.doc_id: r for r in feats.collect()}
    assert len(rows) == d.count()
    texts = {r.doc_id: r.text for r in d.select("doc_id", "text").collect()}

    def local_payload(doc_id):
        b = texts[doc_id].encode("utf-8") or b"\x00"
        b = (b * (192 // len(b) + 1))[:192]
        u8 = np.frombuffer(b, dtype=np.uint8)
        m = doc_id % 3
        if m == 0:
            return multimodal.encode_bmp(u8.reshape(8, 8, 3).copy()), "image"
        if m == 1:
            return multimodal.encode_wav((u8[:96].astype(np.int16) - 128) * 256, 16000), "audio"
        return multimodal.encode_avi(u8[:144].reshape(3, 4, 4, 3).copy(), fps=10), "video"

    checked = set()
    for doc_id in sorted(rows):
        mtype = rows[doc_id].media_type
        if mtype in checked:
            continue
        checked.add(mtype)
        payload, expect_type = local_payload(doc_id)
        assert mtype == expect_type
        assert rows[doc_id].n_bytes == len(payload)
        expect_feat = multimodal.decode_real(payload, mtype)
        got = np.array(rows[doc_id].feat)
        assert np.allclose(got, expect_feat.round(6), atol=1e-9), (doc_id, mtype)
    assert checked == {"image", "audio", "video"}


def test_avi_tolerates_padding_and_rejects_malformed():
    """Containers carrying JUNK padding and INFO lists before movi decode
    identically through both decode_avi and sample_avi_frames (shared
    _parse_avi walk); a short avih or a nested chunk overrunning its
    hdrl LIST raises ValueError from BOTH entry points, never
    struct.error (ADVICE r6: the sampler used to lack the avih guard)."""
    import struct

    import numpy as np
    import pytest

    frames = (np.arange(2 * 4 * 6 * 3).reshape(2, 4, 6, 3) % 256).astype(np.uint8)
    avi = multimodal.encode_avi(frames, fps=10)

    # splice JUNK + an INFO LIST between hdrl and movi
    movi_at = avi.index(b"movi") - 8  # the LIST header enclosing movi
    junk = struct.pack("<4sI", b"JUNK", 12) + b"\x00" * 12
    info = struct.pack("<4sI", b"LIST", 12) + b"INFO" + b"ISFT\x00\x00\x00\x00"
    padded = avi[:movi_at] + junk + info + avi[movi_at:]
    padded = padded[:4] + struct.pack("<I", len(padded) - 8) + padded[8:]
    for fn in (multimodal.decode_avi, lambda p: multimodal.sample_avi_frames(p, 1)):
        fps, got = fn(padded)
        assert fps == 10 and np.array_equal(got, frames)

    # short avih: shrink the declared avih size below 40
    avih_at = avi.index(b"avih")
    short = avi[: avih_at + 4] + struct.pack("<I", 16) + avi[avih_at + 8 :]
    for fn in (multimodal.decode_avi, lambda p: multimodal.sample_avi_frames(p, 1)):
        with pytest.raises(ValueError, match="avih|overruns|missing"):
            fn(short)

    # nested chunk claiming a size past its enclosing hdrl LIST
    overrun = avi[: avih_at + 4] + struct.pack("<I", 1 << 24) + avi[avih_at + 8 :]
    for fn in (multimodal.decode_avi, lambda p: multimodal.sample_avi_frames(p, 1)):
        with pytest.raises(ValueError, match="overruns|missing"):
            fn(overrun)


def test_wav_first_fmt_data_win():
    """A WAV with duplicate fmt/data chunks decodes the FIRST pair (the
    walk stops once both are found) instead of silently preferring
    trailing duplicates."""
    import struct

    import numpy as np

    first = (np.arange(100) % 7).astype(np.int16)
    second = (np.arange(50) % 5 + 60).astype(np.int16)

    def chunk(cc, body):
        return struct.pack("<4sI", cc, len(body)) + body

    fmt16k = chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16))
    fmt8k = chunk(b"fmt ", struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16))
    body = fmt16k + chunk(b"data", first.tobytes()) + fmt8k + chunk(b"data", second.tobytes())
    wav = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    rate, back = multimodal.decode_wav(wav)
    assert rate == 16000
    assert np.array_equal(back, first)


def test_udf_queries_run_from_any_working_directory(tmp_path):
    """Python workers import the package without PYTHONPATH or the repo as
    working directory: a fresh driver in ``tmp_path`` runs the two
    UDF-surface multimodal queries (mapInPandas decode and phash)."""
    script = f"""
import json, sys
sys.path.insert(0, {REPO_DIR!r})
from data_pipeline_etl_spark.registry import QUERIES, load_all_operators
from data_pipeline_etl_spark.session import get_spark
load_all_operators()
spark = get_spark("udf-cwd")
names = ("q_multimodal_phash", "q_multimodal_decode")
print(json.dumps({{n: len(QUERIES[n](spark, {SF_DIR!r}).collect()) for n in names}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert rows["q_multimodal_phash"] > 0
    assert rows["q_multimodal_decode"] > 0
