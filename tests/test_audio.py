import numpy as np
import pyarrow.parquet as pq
import pytest

from ds2_spark.operators.audio import (
    FIXTURE_PCM16_ALIASES,
    audio_sanity,
    audio_sanity_fast,
    decode_pcm,
)

# fixture payloads are PCM16 under every codec tag (FIXTURES.md §1);
# tests over clips_df opt in explicitly — the library default refuses
ALIASES = FIXTURE_PCM16_ALIASES


def test_fast_and_decode_sanity_agree(spark, clips_df):
    """The JVM-only metadata path (production default: bytes never
    reach Python) must agree with the full decode path on PCM."""
    fast = {r["clip_id"]: (r["pcm_ok"], r["dur_actual_ms"], r["dur_ok"])
            for r in audio_sanity_fast(
                clips_df, pcm16_alias_codecs=ALIASES).collect()}
    full = {r["clip_id"]: (r["pcm_ok"], r["dur_actual_ms"], r["dur_ok"])
            for r in audio_sanity(
                clips_df, pcm16_alias_codecs=ALIASES).collect()}
    assert set(fast) == set(full)
    for cid in fast:
        f, g = fast[cid], full[cid]
        assert f[0] == g[0] and f[2] == g[2], (cid, f, g)
        assert abs(f[1] - g[1]) <= 1  # rounding mode may differ by 1ms


def test_audio_sanity_flags_corrupt_durations(spark, clips_df, fixture_paths):
    truth = pq.read_table(fixture_paths["truth"]).to_pandas().set_index("clip_id")
    rows = audio_sanity(clips_df, pcm16_alias_codecs=ALIASES).collect()
    assert len(rows) == len(truth)
    for r in rows:
        t = truth.loc[r["clip_id"]]
        assert r["pcm_ok"]
        # decoded duration equals fixture actual duration (rounded)
        assert abs(r["dur_actual_ms"] - t.dur_actual_ms) <= 1
        assert r["dur_ok"] == (not t.dur_corrupt)


def test_pcm_allclose_snr_invariant(spark, clips_df, fixture_paths):
    """BASELINE.json input_hint: decoded PCM vs reference signal
    allclose at SNR >= 30 dB for clips synthesized at >=30 dB."""
    truth = pq.read_table(fixture_paths["truth"]).to_pandas().set_index("clip_id")
    clips = pq.read_table(fixture_paths["clips"]).to_pandas().set_index("clip_id")
    pcm_rows = {r["clip_id"]: np.array(r["pcm"], dtype=np.float32)
                for r in decode_pcm(
                    clips_df.limit(60), pcm16_alias_codecs=ALIASES
                ).collect()}
    checked = 0
    for cid, pcm in pcm_rows.items():
        t = truth.loc[cid]
        sr = clips.loc[cid, "sr_hz"]
        ns = len(pcm)
        t_ax = np.arange(ns) / sr
        clean = np.zeros(ns)
        for f, a, ph in zip(t.tone_freqs, t.tone_amps, t.tone_phases):
            clean += a * np.sin(2 * np.pi * f * t_ax + ph)
        p_sig = np.mean(clean**2)
        if p_sig == 0 or t.snr_db < 30:
            continue
        err = pcm - clean
        snr = 10 * np.log10(p_sig / max(np.mean(err**2), 1e-12))
        # quantization + injected noise: must still clear 30 dB when
        # synthesized at >= 35 dB (5 dB headroom below the synth SNR)
        if t.snr_db >= 35:
            assert snr >= 30.0, (cid, snr, t.snr_db)
        checked += 1
    assert checked > 5


def test_decode_matches_frombuffer_exactly(spark, clips_df, fixture_paths):
    clips = pq.read_table(fixture_paths["clips"]).to_pandas().set_index("clip_id")
    sample = decode_pcm(clips_df.limit(10), pcm16_alias_codecs=ALIASES).collect()
    for r in sample:
        raw = clips.loc[r["clip_id"], "bytes"]
        expected = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
        assert np.array_equal(np.array(r["pcm"], dtype=np.float32), expected)


def _wav_bytes(pcm16: np.ndarray, sr: int, channels: int = 1, extra_chunk: bool = False) -> bytes:
    """Minimal RIFF/WAVE encoder (PCM16) for decoder tests."""
    data = pcm16.astype("<i2").tobytes()
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")                     # PCM
        + channels.to_bytes(2, "little")
        + sr.to_bytes(4, "little")
        + (sr * channels * 2).to_bytes(4, "little")     # byte rate
        + (channels * 2).to_bytes(2, "little")          # block align
        + (16).to_bytes(2, "little")                    # bits
    )
    chunks = fmt
    if extra_chunk:  # LIST chunk before data: parser must skip it
        chunks += b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_parse_and_decode_roundtrip():
    from ds2_spark.operators.audio import decode_wav, parse_wav_header

    rng = np.random.default_rng(2)
    pcm = rng.integers(-30000, 30000, size=1600, dtype=np.int16)
    b = _wav_bytes(pcm, sr=16000)
    h = parse_wav_header(b)
    assert h["audio_format"] == 1 and h["channels"] == 1
    assert h["sr_hz"] == 16000 and h["bits"] == 16
    got = decode_wav(b)
    assert np.allclose(got, pcm.astype(np.float32) / 32767.0)
    # extra chunk between fmt and data must be skipped, not break parse
    b2 = _wav_bytes(pcm, sr=16000, extra_chunk=True)
    assert np.allclose(decode_wav(b2), got)
    # stereo: channels averaged to mono
    st = np.empty(200, dtype=np.int16)
    st[0::2] = 1000   # L
    st[1::2] = 3000   # R
    mono = decode_wav(_wav_bytes(st, sr=8000, channels=2))
    assert np.allclose(mono, np.full(100, 2000.0 / 32767.0))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AVEW")  # not a WAVE


def test_audio_sanity_fast_wav_container(spark):
    """codec='wav' rows: fast path subtracts the 44-byte canonical
    header so the metadata duration matches the decoded duration."""
    from ds2_spark.operators.audio import audio_sanity_fast

    pcm = np.zeros(16000, dtype=np.int16)  # 1s at 16k
    b = _wav_bytes(pcm, sr=16000)
    assert len(b) == 44 + 32000
    df = spark.createDataFrame(
        [("w0", bytearray(b), 16000, 1000, "wav")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    row = audio_sanity_fast(df).collect()[0]
    assert row["pcm_ok"] and row["dur_ok"]
    assert abs(row["dur_actual_ms"] - 1000) <= 1


def test_audio_features(spark):
    """zcr/silence/clipping/snr on constructed signals: a clip that is
    half loud sine, half silence, with some clipped samples."""
    from ds2_spark.operators.audio import audio_features

    sr = 8000
    t = np.arange(sr, dtype=np.float64)  # 1s
    sine = 0.5 * np.sin(2 * np.pi * 100 * t / sr)  # 100 Hz
    sig = np.concatenate([sine, np.zeros(sr)])     # 1s tone + 1s silence
    sig[:50] = 1.0                                  # clipped burst
    pcm16 = np.clip(sig * 32767, -32767, 32767).astype(np.int16)
    silent = np.zeros(sr, dtype=np.int16)
    df = spark.createDataFrame(
        [
            ("mix", bytearray(pcm16.tobytes()), sr, "pcm_s16le"),
            ("dead", bytearray(silent.tobytes()), sr, "pcm_s16le"),
            ("bad", bytearray(b"\x00"), sr, "nocodec"),
        ],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    out = {r["clip_id"]: r for r in audio_features(df).collect()}
    mix = out["mix"]
    assert mix["decoded_ok"]
    # 100 Hz sine -> 200 crossings/s over 2s of signal where half is
    # silence: zcr ~= 200 / 16000 = 0.0125 (within loose tolerance)
    assert 0.005 < mix["zcr"] < 0.03
    assert 0.4 < mix["silence_ratio"] < 0.6
    assert 0.0 < mix["clipping_ratio"] < 0.01
    assert mix["snr_db_est"] > 20.0
    dead = out["dead"]
    assert dead["decoded_ok"] and dead["silence_ratio"] == 1.0
    assert not out["bad"]["decoded_ok"]


def _naive_fingerprint(b: bytes | None, fs: int = 8, max_bits: int = 60):
    """Independent per-row twin of operators.audio.audio_fingerprint."""
    if b is None or len(b) < 2:
        return None, 0
    pcm = np.abs(
        np.frombuffer(b, dtype="<i2", count=len(b) // 2).astype(np.int64)
    )
    nf = len(pcm) // fs
    e = [int(pcm[k * fs : (k + 1) * fs].sum()) for k in range(nf)]
    fp = 0
    for p in range(1, min(nf, max_bits + 1)):
        if e[p] > e[p - 1]:
            fp |= 1 << (p - 1)
    return fp, nf


def test_audio_fingerprint_known_values(spark):
    """Hand-computable example: frame energies 4,8,2,2 -> rising at
    frame 1 only -> fp = 0b01 = 1 with frame_samples=2."""
    from ds2_spark.operators.audio import audio_fingerprint

    pcm = np.array([1, -3, 4, 4, -1, 1, 2, 0], dtype=np.int16)
    df = spark.createDataFrame(
        [("a", bytearray(pcm.tobytes()))], "clip_id string, bytes binary"
    )
    row = audio_fingerprint(df, frame_samples=2).collect()[0]
    assert (row["fp"], row["n_frames"]) == (1, 4)


def test_audio_fingerprint_matches_naive_twin(spark):
    """Batch-vectorized kernel == independent per-row twin across
    edge shapes: empty, NULL, sub-frame, odd byte length, long."""
    from ds2_spark.operators.audio import audio_fingerprint

    rng = np.random.default_rng(11)
    rows = []
    for i in range(60):
        n = int(rng.integers(0, 400))
        pcm = rng.integers(-32767, 32768, size=n).astype(np.int16)
        b = pcm.tobytes()
        if i % 7 == 0:
            b = b[:-1]  # odd length: trailing byte dropped
        rows.append((f"c{i:02d}", bytearray(b) if i % 9 else None))
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: (r["fp"], r["n_frames"])
        for r in audio_fingerprint(df, frame_samples=8).collect()
    }
    for cid, b in rows:
        want = _naive_fingerprint(bytes(b) if b is not None else None)
        assert got[cid] == want, cid


def test_audio_fingerprint_dup_grouping(spark):
    """Identical payloads share a fingerprint (the exact-dup join key);
    a perturbed payload in a different energy order does not."""
    from ds2_spark.operators.audio import audio_fingerprint

    rng = np.random.default_rng(3)
    a = rng.integers(-2000, 2000, size=64).astype(np.int16)
    desc = np.sort(np.abs(a))[::-1].astype(np.int16)  # monotone falling
    df = spark.createDataFrame(
        [
            ("a1", bytearray(a.tobytes())),
            ("a2", bytearray(a.tobytes())),
            ("d", bytearray(desc.tobytes())),
        ],
        "clip_id string, bytes binary",
    )
    out = {r["clip_id"]: r["fp"] for r in audio_fingerprint(df).collect()}
    assert out["a1"] == out["a2"]
    assert out["d"] == 0  # falling energies -> no rising deltas


def test_audio_neardup_pairs_matches_allpairs_twin(spark):
    """Banded near-dup == exhaustive all-pairs Hamming filter on a
    corpus with planted near-dup groups (shared base series, one
    perturbed sample) plus unrelated clips."""
    from itertools import combinations

    from ds2_spark.operators.audio import audio_neardup_pairs

    rng = np.random.default_rng(17)
    rows = []
    for gidx in range(12):
        base = rng.integers(-8000, 8000, size=520).astype(np.int16)
        for v in range(3):
            pcm = base.copy()
            pcm[0] = np.int16(min(32767, int(pcm[0]) + 500 * v))
            rows.append((f"g{gidx:02d}v{v}", bytearray(pcm.tobytes())))
    for j in range(30):
        pcm = rng.integers(-8000, 8000, size=520).astype(np.int16)
        rows.append((f"u{j:02d}", bytearray(pcm.tobytes())))
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")

    fps = {cid: _naive_fingerprint(bytes(b))[0] for cid, b in rows}
    want = set()
    for (a, fa), (b, fb) in combinations(sorted(fps.items()), 2):
        if bin(fa ^ fb).count("1") <= 2:
            want.add((a, b))

    got = {
        (r["id_a"], r["id_b"])
        for r in audio_neardup_pairs(df, max_dist=2).collect()
    }
    assert got == want
    # every planted within-group pair must be found
    for gidx in range(12):
        ids = sorted(f"g{gidx:02d}v{v}" for v in range(3))
        for a, b in combinations(ids, 2):
            assert (a, b) in got, (a, b)


def test_audio_spectral_features(spark):
    """Spectral features against analytic expectations AND a direct
    NumPy recomputation of the exact operator math.

    A pure sine at f0 concentrates all non-DC power in one rFFT bin:
    centroid == rolloff == f0, bandwidth ~ 0, flatness ~ 0. White-ish
    uniform noise spreads power: flatness near 1, centroid near the
    power-weighted mid-band.
    """
    from ds2_spark.operators.audio import audio_spectral_features

    sr = 8000
    t = np.arange(sr, dtype=np.float64)
    f0 = 1000  # exact bin for a 1-s clip (bin width = 1 Hz)
    sine = 0.5 * np.sin(2 * np.pi * f0 * t / sr)
    rng = np.random.default_rng(7)
    noise = rng.uniform(-0.5, 0.5, sr)
    to_pcm = lambda s: bytearray(  # noqa: E731
        np.clip(s * 32767, -32767, 32767).astype(np.int16).tobytes()
    )
    df = spark.createDataFrame(
        [
            ("sine", to_pcm(sine), sr, "pcm_s16le"),
            ("noise", to_pcm(noise), sr, "pcm_s16le"),
            ("dead", bytearray(np.zeros(sr, np.int16).tobytes()), sr, "pcm_s16le"),
            ("bad", bytearray(b"\x00"), sr, "nocodec"),
        ],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    out = {r["clip_id"]: r for r in audio_spectral_features(df).collect()}

    s = out["sine"]
    assert s["decoded_ok"]
    assert abs(s["centroid_hz"] - f0) < 2.0
    assert s["bandwidth_hz"] < 20.0
    assert abs(s["rolloff_hz"] - f0) < 2.0
    assert s["flatness"] < 0.01

    n = out["noise"]
    assert n["flatness"] > 0.3
    assert 1500 < n["centroid_hz"] < 2500  # mid-band for flat power
    assert n["rolloff_hz"] > 3000

    d = out["dead"]
    assert d["decoded_ok"] and d["centroid_hz"] == 0.0 and d["flatness"] == 0.0
    assert not out["bad"]["decoded_ok"]

    # exact parity with a direct NumPy recomputation (same formulas,
    # independent code path straight off the int16 buffer)
    pcm = np.frombuffer(bytes(to_pcm(noise)), dtype=np.int16).astype(
        np.float64
    ) / 32768.0
    spec = np.abs(np.fft.rfft(pcm)) ** 2
    p = spec[1:] / spec[1:].sum()
    freqs = np.fft.rfftfreq(len(pcm), d=1.0 / sr)[1:]
    c = float(np.dot(p, freqs))
    assert abs(n["centroid_hz"] - c) < 1e-6
    assert abs(n["bandwidth_hz"] - float(np.sqrt(np.dot(p, (freqs - c) ** 2)))) < 1e-6


def test_audio_loudness_known_sine(spark):
    """Full-scale references: a 0.5-amplitude sine peaks at ~-6.02
    dBFS with RMS ~3.01 dB below peak; digital silence floors at
    -120; a constant offset shows up in dc_offset."""
    from ds2_spark.operators.audio import audio_loudness

    sr = 8000
    t = np.arange(sr, dtype=np.float64)
    sine = 0.5 * np.sin(2 * np.pi * 100 * t / sr)
    dc = np.full(sr, 0.25)
    mk = lambda s: bytearray(  # noqa: E731
        np.clip(np.rint(s * 32767), -32768, 32767).astype(np.int16).tobytes()
    )
    df = spark.createDataFrame(
        [
            ("sine", mk(sine), sr, "pcm_s16le"),
            ("dead", mk(np.zeros(sr)), sr, "pcm_s16le"),
            ("dc", mk(dc), sr, "pcm_s16le"),
        ],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    out = {r["clip_id"]: r for r in audio_loudness(df).collect()}
    assert abs(out["sine"]["peak_dbfs"] - 20 * np.log10(0.5)) < 0.01
    assert abs(out["sine"]["rms_dbfs"] - (20 * np.log10(0.5) - 3.0103)) < 0.02
    assert abs(out["sine"]["dc_offset"]) < 1e-4
    assert out["dead"]["peak_dbfs"] == -120.0 and out["dead"]["rms_dbfs"] == -120.0
    assert abs(out["dc"]["dc_offset"] - 0.25) < 1e-4


def test_audio_resample_exact_and_passthrough(spark):
    """Resampled samples equal np.interp at the exact source
    positions; a clip already at the target rate round-trips
    byte-identical."""
    from ds2_spark.operators.audio import audio_resample

    sr = 8000
    target = 16000
    ramp = np.linspace(-0.9, 0.9, sr).astype(np.float64)
    pcm16 = np.clip(np.rint(ramp * 32767), -32768, 32767).astype(np.int16)
    df = spark.createDataFrame(
        [
            ("up", bytearray(pcm16.tobytes()), sr, "pcm_s16le"),
            ("same", bytearray(pcm16.tobytes()), target, "pcm_s16le"),
        ],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    out = {r["clip_id"]: r for r in audio_resample(df, target_sr=target).collect()}

    up = out["up"]
    assert up["decoded_ok"] and up["sr_hz"] == target
    assert up["n_samples"] == sr * 2
    got = np.frombuffer(bytes(up["bytes"]), dtype="<i2")
    src = pcm16.astype(np.float32) / 32767.0
    pos = np.arange(sr * 2, dtype=np.float64) * (sr / target)
    exp = np.clip(
        np.rint(np.interp(pos, np.arange(sr), src) * 32767.0), -32768, 32767
    ).astype(np.int16)
    assert np.array_equal(got, exp)

    same = out["same"]
    assert bytes(same["bytes"]) == pcm16.tobytes()  # byte-identical


def test_compressed_codec_tags_refuse_by_default(spark):
    """An aliased/compressed codec tag (flac/opus/mp3) must REFUSE to
    decode unless the caller opts in with pcm16_alias_codecs — silently
    decoding a genuinely-compressed payload as raw PCM16 would emit
    garbage features with decoded_ok=true (VERDICT r4 'What's wrong' #1;
    same policy as unknown video codecs in operators/jpeg.py)."""
    from ds2_spark.operators.audio import (
        audio_features,
        audio_loudness,
        audio_resample,
        audio_spectral_features,
    )

    pcm16 = np.clip(
        np.rint(np.sin(np.arange(400) * 0.1) * 20000), -32768, 32767
    ).astype(np.int16)
    df = spark.createDataFrame(
        [
            ("flac_clip", bytearray(pcm16.tobytes()), 8000, 50, "flac"),
            ("pcm_clip", bytearray(pcm16.tobytes()), 8000, 50, "pcm_s16le"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )

    # default: every decoding stage refuses the flac tag, decodes pcm
    for op in (audio_features, audio_spectral_features, audio_loudness,
               audio_resample):
        out = {r["clip_id"]: r["decoded_ok"] for r in op(df).collect()}
        assert out == {"flac_clip": False, "pcm_clip": True}, (op.__name__, out)
    san = {r["clip_id"]: r["pcm_ok"]
           for r in audio_sanity(df).collect()}
    assert san == {"flac_clip": False, "pcm_clip": True}
    fast = {r["clip_id"]: r["pcm_ok"]
            for r in audio_sanity_fast(df).collect()}
    assert fast == {"flac_clip": False, "pcm_clip": True}
    dec = {r["clip_id"]: len(r["pcm"]) for r in decode_pcm(df).collect()}
    assert dec == {"flac_clip": 0, "pcm_clip": len(pcm16)}

    # explicit fixture opt-in: the alias decodes as PCM16
    out = {r["clip_id"]: r["decoded_ok"]
           for r in audio_features(df, pcm16_alias_codecs=ALIASES).collect()}
    assert out == {"flac_clip": True, "pcm_clip": True}


def _naive_vad(
    b: bytes | None,
    fs: int,
    thr: int,
    max_gap: int,
    min_frames: int,
) -> list[tuple[int, int, int, int, int, int]]:
    """Per-clip reference for audio_vad_segments: plain Python loops,
    no shared code with the vectorized kernel."""
    if b is None:
        return []
    nf = len(b) // (2 * fs)
    e = [
        int(np.abs(np.frombuffer(
            b[t * 2 * fs:(t + 1) * 2 * fs], dtype="<i2"
        ).astype(np.int64)).sum())
        for t in range(nf)
    ]
    voiced = [x >= thr for x in e]
    # maximal voiced runs
    runs, t = [], 0
    while t < nf:
        if voiced[t]:
            s = t
            while t + 1 < nf and voiced[t + 1]:
                t += 1
            runs.append((s, t))
        t += 1
    # bridge gaps <= max_gap
    merged: list[list[int]] = []
    for s, en in runs:
        if merged and s - merged[-1][1] - 1 <= max_gap:
            merged[-1][1] = en
        else:
            merged.append([s, en])
    out = []
    for s, en in merged:
        if en - s + 1 < min_frames:
            continue
        vf = sum(1 for t in range(s, en + 1) if voiced[t])
        out.append((
            len(out), s, en, en - s + 1, vf, sum(e[s:en + 1])
        ))
    return out


def test_audio_vad_hand_cases(spark):
    from ds2_spark.operators.audio import audio_vad_segments

    fs = 4
    loud = np.full(fs, 1000, dtype=np.int16).tobytes()
    quiet = np.full(fs, 1, dtype=np.int16).tobytes()
    # clip A: V S V  with max_gap=1 -> one bridged segment frames 0-2
    # clip B: V S S V with max_gap=1 -> two segments (gap of 2 > 1)
    # clip C: all silence -> no rows;  clip D: NULL -> no rows
    # clip E: single voiced frame, min_frames=2 -> dropped
    rows = [
        ("A", bytearray(loud + quiet + loud)),
        ("B", bytearray(loud + quiet + quiet + loud)),
        ("C", bytearray(quiet * 5)),
        ("D", None),
        ("E", bytearray(quiet + loud + quiet)),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = {
        (r["clip_id"], r["seg_id"]): (
            r["start_frame"], r["end_frame"], r["n_frames"],
            r["voiced_frames"], r["energy_sum"],
        )
        for r in audio_vad_segments(
            df, frame_samples=fs, energy_threshold=fs * 500,
            max_gap_frames=1, min_frames=2,
        ).collect()
    }
    assert out[("A", 0)] == (0, 2, 3, 2, 2 * 4000 + 4)
    assert ("B", 0) not in out  # both B islands are 1 frame < min 2
    assert not any(k[0] in ("C", "D", "E") for k in out)
    assert len(out) == 1


def test_audio_vad_matches_naive_twin(spark):
    """Vectorized batch kernel == per-clip loop reference on seeded
    random PCM across threshold/gap/min-length settings, including
    clips that end voiced, start voiced, NULLs, odd tail bytes, and
    batch-boundary adjacency (single partition => one Arrow batch
    covers many clips; clip edges must isolate runs)."""
    from ds2_spark.operators.audio import audio_vad_segments

    rng = np.random.default_rng(13)
    fs = 8
    rows = []
    for cid in range(120):
        if cid % 17 == 0:
            rows.append((f"c{cid:03d}", None))
            continue
        n = int(rng.integers(0, 30)) * fs + int(rng.integers(0, fs))
        amp = rng.choice([2, 2000], size=max(n, 1), p=[0.55, 0.45])
        pcm = (rng.integers(-1, 2, size=max(n, 1)) * amp).astype(np.int16)
        rows.append((f"c{cid:03d}", bytearray(pcm[:n].tobytes())))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary"
    ).coalesce(1)
    for thr, gap, mn in ((fs * 500, 0, 1), (fs * 500, 2, 3), (1, 1, 1)):
        got = sorted(
            tuple(r) for r in audio_vad_segments(
                df, frame_samples=fs, energy_threshold=thr,
                max_gap_frames=gap, min_frames=mn,
            ).collect()
        )
        want = sorted(
            (cid, sid, s, en, nf, vf, es)
            for cid, b in rows
            for sid, s, en, nf, vf, es in _naive_vad(
                None if b is None else bytes(b), fs, thr, gap, mn
            )
        )
        assert got == want, (thr, gap, mn, got[:3], want[:3])


def test_audio_segment_extract_bytes_and_stats(spark):
    """Bytes-out utterance extraction: stats columns bit-equal to
    audio_vad_segments (shared kernel), every segment's bytes equal
    the naive per-clip whole-frame slice, re-decoding the emitted
    bytes reproduces energy_sum exactly, and emitted slices within a
    clip are disjoint and time-ordered."""
    from ds2_spark.operators.audio import (
        audio_segment_extract,
        audio_vad_segments,
    )

    rng = np.random.default_rng(7)
    fs = 8
    rows = []
    for cid in range(80):
        if cid % 13 == 0:
            rows.append((f"c{cid:03d}", None))
            continue
        n = int(rng.integers(0, 25)) * fs + int(rng.integers(0, fs))
        amp = rng.choice([2, 2000], size=max(n, 1), p=[0.5, 0.5])
        pcm = (rng.integers(-1, 2, size=max(n, 1)) * amp).astype(np.int16)
        rows.append((f"c{cid:03d}", bytearray(pcm[:n].tobytes())))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary"
    ).coalesce(1)
    kw = dict(
        frame_samples=fs, energy_threshold=fs * 500,
        max_gap_frames=1, min_frames=2,
    )
    got = audio_segment_extract(df, **kw).collect()
    assert got, "fixture produced no segments — test is vacuous"
    assert sorted(tuple(r)[:7] for r in got) == sorted(
        tuple(r) for r in audio_vad_segments(df, **kw).collect()
    )
    payload = {cid: None if b is None else bytes(b) for cid, b in rows}
    fb = 2 * fs
    per_clip: dict[str, list] = {}
    for r in got:
        b = payload[r["clip_id"]]
        trunc = b[: (len(b) // fb) * fb]
        want = trunc[r["start_frame"] * fb : (r["end_frame"] + 1) * fb]
        assert bytes(r["bytes"]) == want, r["clip_id"]
        dec = np.abs(
            np.frombuffer(bytes(r["bytes"]), dtype="<i2").astype(np.int64)
        )
        assert int(dec.sum()) == r["energy_sum"]
        assert len(dec) == r["n_frames"] * fs
        per_clip.setdefault(r["clip_id"], []).append(
            (r["seg_id"], r["start_frame"], r["end_frame"])
        )
    for segs in per_clip.values():
        segs.sort()
        assert [s for s, _, _ in segs] == list(range(len(segs)))
        for (_, _, z0), (_, s1, _) in zip(segs, segs[1:]):
            assert s1 > z0  # disjoint, time-ordered


def test_audio_segment_extract_refusals(spark):
    from ds2_spark.operators.audio import audio_segment_extract

    df = spark.createDataFrame([("a", None)], "clip_id string, bytes binary")
    for kw in (
        dict(frame_samples=0),
        dict(min_frames=0),
        dict(max_gap_frames=-1),
    ):
        with pytest.raises(ValueError):
            audio_segment_extract(df, **kw)


def test_g711_tables_match_published_anchors():
    """Anchor values straight from the published ITU G.711 expansion
    tables — NOT derived from our own formulas, so a sign/segment bug
    in the table builder cannot self-confirm. mu-law: code 0x00 is the
    largest negative (-32124), 0xFF is (positive) zero, 0x7F is the
    redundant negative zero, 0x80 the largest positive. A-law: 0x55 is
    -8 (the smallest-magnitude negative), 0xD5 is +8, 0x2A -> -32256,
    0xAA -> +32256 (the extremes)."""
    from ds2_spark.operators.audio import ALAW2LIN, ULAW2LIN

    assert ULAW2LIN[0x00] == -32124
    assert ULAW2LIN[0xFF] == 0
    assert ULAW2LIN[0x7F] == 0
    assert ULAW2LIN[0x80] == 32124
    assert ULAW2LIN[0x01] == -31100  # second entry of the published table
    assert ALAW2LIN[0x55] == -8
    assert ALAW2LIN[0xD5] == 8
    assert ALAW2LIN[0x2A] == -32256
    assert ALAW2LIN[0xAA] == 32256
    assert ALAW2LIN[0x00] == -5504  # first entry of the published table

    # structural invariants of both companding laws: flipping the sign
    # bit of the TRANSMITTED byte negates the sample (mu-law sign bit
    # survives inversion in bit 7; A-law sign bit is untouched by the
    # 0x55 mask), and magnitudes are monotone within a segment
    c = np.arange(128)
    assert (ULAW2LIN[c] == -ULAW2LIN[c ^ 0x80]).all()
    assert (ALAW2LIN[c] == -ALAW2LIN[c ^ 0x80]).all()
    # positive mu-law codes 0x80..0xFE decode strictly decreasing
    # (code magnitude is inverted on the wire)
    pos = ULAW2LIN[np.arange(0x80, 0xFF)]
    assert (np.diff(pos) < 0).all() and (pos > 0).all()


def test_g711_decode_and_sanity_one_byte_per_sample(spark):
    """G.711 payloads are 1 byte/sample: odd lengths are VALID, the
    duration math uses width 1, and decode goes through the real
    expansion tables (checked against a direct LUT gather)."""
    from ds2_spark.operators.audio import (
        ALAW2LIN,
        ULAW2LIN,
        audio_codec_energy,
    )

    rng = np.random.default_rng(7)
    ub = rng.integers(0, 256, size=401, dtype=np.uint8)  # odd length
    ab = rng.integers(0, 256, size=250, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            ("u", bytearray(ub.tobytes()), 8000, 50, "pcm_ulaw"),
            ("a", bytearray(ab.tobytes()), 8000, 31, "pcm_alaw"),
            ("bad", bytearray(ub.tobytes()), 8000, 50, "mp3"),
            ("odd_pcm", bytearray(ub.tobytes()), 8000, 25, "pcm_s16le"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    san = {r["clip_id"]: r for r in audio_sanity(df).collect()}
    assert san["u"]["pcm_ok"] and san["u"]["n_samples"] == 401
    assert san["u"]["dur_actual_ms"] == round(401 * 1000 / 8000)
    assert san["a"]["pcm_ok"] and san["a"]["n_samples"] == 250
    assert not san["bad"]["pcm_ok"]
    assert not san["odd_pcm"]["pcm_ok"]  # odd bytes still refuse PCM16
    fast = {r["clip_id"]: r for r in audio_sanity_fast(df).collect()}
    for k in ("u", "a", "bad", "odd_pcm"):
        assert fast[k]["pcm_ok"] == san[k]["pcm_ok"], k
        if san[k]["pcm_ok"]:
            assert fast[k]["dur_actual_ms"] == san[k]["dur_actual_ms"], k

    en = {r["clip_id"]: r for r in audio_codec_energy(df).collect()}
    exp_u = np.abs(ULAW2LIN[ub].astype(np.int64))
    exp_a = np.abs(ALAW2LIN[ab].astype(np.int64))
    assert en["u"]["decoded_ok"] and en["u"]["abs_energy"] == exp_u.sum()
    assert en["u"]["max_abs"] == exp_u.max()
    assert en["a"]["decoded_ok"] and en["a"]["abs_energy"] == exp_a.sum()
    assert not en["bad"]["decoded_ok"] and en["bad"]["abs_energy"] == 0
    assert not en["odd_pcm"]["decoded_ok"]

    # float decode surface: same table, scaled into [-1, 1]
    dec = {r["clip_id"]: np.array(r["pcm"], dtype=np.float32)
           for r in decode_pcm(df).collect()}
    np.testing.assert_allclose(
        dec["u"], ULAW2LIN[ub].astype(np.float32) / 32767.0, rtol=0, atol=0
    )
    np.testing.assert_allclose(
        dec["a"], ALAW2LIN[ab].astype(np.float32) / 32767.0, rtol=0, atol=0
    )


def _adpcm_ref_scalar(b):
    """Independent single-clip IMA ADPCM reference, written directly
    from the published spec pseudocode (scalar loop, no shared code
    with the vectorized batch decoder)."""
    from ds2_spark.operators.audio import IMA_INDEX_TABLE, IMA_STEP_TABLE

    if b is None or len(b) < 4 or b[2] > 88:
        return None
    pred = int.from_bytes(b[0:2], "little", signed=True)
    idx = b[2]
    out = []
    for byte in b[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            step = int(IMA_STEP_TABLE[idx])
            diff = step >> 3
            if nib & 4:
                diff += step
            if nib & 2:
                diff += step >> 1
            if nib & 1:
                diff += step >> 2
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + int(IMA_INDEX_TABLE[nib])))
            out.append(pred)
    return np.array(out, dtype=np.int32)


def test_adpcm_hand_computed_spec_cases():
    """First steps worked by hand from the IMA tables (pred0=0,
    idx0=0 -> step 7): nibble 2 -> diff = 7>>1 = 3, pred 3, index
    stays 0; nibble 7 -> diff = 7+3+1 = 11; nibble 15 from index 8
    (step 16) -> diff = 2+16+8+4 = 30, sign bit subtracts."""
    from ds2_spark.operators.audio import adpcm_decode_batch

    hdr = (0).to_bytes(2, "little", signed=True) + bytes([0, 0])
    # byte 0x72 = low nibble 2, high nibble 7; byte 0x0F = low 15
    (pcm,) = adpcm_decode_batch([hdr + bytes([0x72, 0x0F])])
    # t0: nib 2: diff 3 -> pred 3, idx 0 + (-1) -> 0
    # t1: nib 7: step 7, diff 0+7+3+1 = 11 -> pred 14, idx 0+8 = 8
    # t2: nib 15: step 16, diff 2+16+8+4 = 30 -> pred 14-30 = -16,
    #     idx 8+8 = 16
    # t3: nib 0: step IMA_STEP_TABLE[16] = 34, diff 34>>3 = 4 ->
    #     pred -12, idx 16-1 = 15
    assert pcm.tolist() == [3, 14, -16, -12]

    # initial predictor and index are honored; invalid index refuses
    hdr2 = (-100).to_bytes(2, "little", signed=True) + bytes([88, 0])
    (p2, p3) = adpcm_decode_batch(
        [hdr2 + bytes([0x00]), bytes([0, 0, 89, 0, 0x00])]
    )
    # nib 0 at step 32767: diff = 4095 -> -100+4095 = 3995; then
    # nib 0 again at idx 87 (step 29794): diff 3724 -> 7719
    assert p2.tolist() == [3995, 7719]
    assert p3 is None


def test_adpcm_batch_matches_scalar_reference():
    """Across-clips vectorized decode == independent scalar spec
    reference on random payloads of mixed lengths (including the
    padded-lane interaction: a short clip must not be perturbed by
    longer neighbors in the same batch)."""
    from ds2_spark.operators.audio import adpcm_decode_batch

    rng = np.random.default_rng(11)
    payloads = []
    for i in range(60):
        nb = int(rng.integers(0, 40))
        pred0 = int(rng.integers(-32768, 32768))
        idx0 = int(rng.integers(0, 89))
        payloads.append(
            pred0.to_bytes(2, "little", signed=True)
            + bytes([idx0, 0])
            + rng.integers(0, 256, size=nb, dtype=np.uint8).tobytes()
        )
    payloads += [None, b"\x00\x00", b""]
    got = adpcm_decode_batch(payloads)
    for b, g in zip(payloads, got):
        ref = _adpcm_ref_scalar(b)
        if ref is None:
            assert g is None
        else:
            assert g.tolist() == ref.tolist()


def test_adpcm_registry_and_sanity(spark):
    """adpcm_ima decodes through every generic stage (registry float
    surface, sanity n_samples/duration from the nibble framing) and
    audio_codec_energy's batch path == scalar reference energies."""
    from ds2_spark.operators.audio import audio_codec_energy

    rng = np.random.default_rng(3)
    mk = lambda nb, pred0, idx0: (
        pred0.to_bytes(2, "little", signed=True) + bytes([idx0, 0])
        + rng.integers(0, 256, size=nb, dtype=np.uint8).tobytes()
    )
    b1, b2 = mk(100, 0, 0), mk(37, -5000, 40)
    df = spark.createDataFrame(
        [
            ("a1", bytearray(b1), 8000, 25, "adpcm_ima"),
            ("a2", bytearray(b2), 8000, 9, "adpcm_ima"),
            ("short", bytearray(b"\x00\x00"), 8000, 0, "adpcm_ima"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    san = {r["clip_id"]: r for r in audio_sanity(df).collect()}
    assert san["a1"]["pcm_ok"] and san["a1"]["n_samples"] == 200
    assert san["a1"]["dur_actual_ms"] == round(200 * 1000 / 8000)
    assert san["a2"]["n_samples"] == 74
    assert not san["short"]["pcm_ok"]
    fast = {r["clip_id"]: r for r in audio_sanity_fast(df).collect()}
    for k in ("a1", "a2", "short"):
        assert fast[k]["pcm_ok"] == san[k]["pcm_ok"], k
        if san[k]["pcm_ok"]:
            assert fast[k]["dur_actual_ms"] == san[k]["dur_actual_ms"], k

    en = {r["clip_id"]: r for r in audio_codec_energy(df).collect()}
    for cid, b in (("a1", b1), ("a2", b2)):
        ref = np.abs(_adpcm_ref_scalar(b).astype(np.int64))
        assert en[cid]["decoded_ok"]
        assert en[cid]["abs_energy"] == ref.sum()
        assert en[cid]["max_abs"] == ref.max()
        assert en[cid]["n_samples"] == len(ref)
    assert not en["short"]["decoded_ok"]

    dec = {r["clip_id"]: np.array(r["pcm"], dtype=np.float32)
           for r in decode_pcm(df).collect()}
    np.testing.assert_array_equal(
        dec["a1"], _adpcm_ref_scalar(b1).astype(np.float32) / 32767.0
    )
    assert dec["short"].size == 0


def test_g711_roundtrip_snr_invariant():
    """North-rule SNR invariant for the companded codecs: encoding
    speech-scale PCM16 to G.711 (optimal quantization against the
    decode table — an encoder-free inverse) and expanding back keeps
    SNR >= 30 dB (G.711's design point is ~38 dB SQNR)."""
    from ds2_spark.operators.audio import ALAW2LIN, ULAW2LIN

    t = np.arange(4000, dtype=np.float64)
    x = np.rint(
        12000 * np.sin(2 * np.pi * 440 * t / 8000)
        + 4000 * np.sin(2 * np.pi * 1333 * t / 8000 + 0.7)
    ).astype(np.int16)
    for table in (ULAW2LIN, ALAW2LIN):
        # optimal quantizer: nearest decode-table entry per sample
        order = np.argsort(table.astype(np.int32))
        levels = table.astype(np.int32)[order]
        pos = np.clip(np.searchsorted(levels, x), 1, 255)
        lower = levels[pos - 1]
        upper = levels[np.minimum(pos, 255)]
        codes = order[np.where(np.abs(x - lower) <= np.abs(upper - x),
                               pos - 1, np.minimum(pos, 255))]
        decoded = table.astype(np.float64)[codes]
        err = decoded - x
        snr = 10 * np.log10((x.astype(np.float64) ** 2).sum() / (err ** 2).sum())
        assert snr >= 30.0, snr


def test_adpcm_roundtrip_snr():
    """Canonical IMA encoder (test-side scalar loop from the spec's
    quantizer) -> batch decoder roundtrip on a smooth speech-scale
    signal tracks the input at >= 25 dB SNR (IMA's design envelope
    for band-limited signals)."""
    from ds2_spark.operators.audio import (
        IMA_INDEX_TABLE,
        IMA_STEP_TABLE,
        adpcm_decode_batch,
    )

    t = np.arange(2000, dtype=np.float64)
    x = np.rint(9000 * np.sin(2 * np.pi * 300 * t / 8000)).astype(np.int64)

    pred, idx = int(x[0]), 20
    nibbles = []
    for s in x:
        step = int(IMA_STEP_TABLE[idx])
        delta = int(s) - pred
        nib = 0
        if delta < 0:
            nib = 8
            delta = -delta
        if delta >= step:
            nib |= 4
            delta -= step
        if delta >= step >> 1:
            nib |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            nib |= 1
        # replay the decoder update to keep encoder state in lockstep
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        pred = pred - diff if nib & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(IMA_INDEX_TABLE[nib])))
        nibbles.append(nib)

    data = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    payload = int(x[0]).to_bytes(2, "little", signed=True) + bytes([20, 0]) + data
    (decoded,) = adpcm_decode_batch([payload])
    err = decoded.astype(np.float64) - x
    snr = 10 * np.log10((x.astype(np.float64) ** 2).sum() / (err ** 2).sum())
    assert snr >= 25.0, snr


def test_wav_g711_formats():
    """RIFF/WAV with format tags 6 (A-law) and 7 (mu-law) decode
    through the real expansion tables; an unknown format tag refuses."""
    from ds2_spark.operators.audio import ALAW2LIN, ULAW2LIN, decode_wav

    def wav(fmt, bits, data, ch=1, sr=8000):
        block = ch * bits // 8
        hdr = (
            b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + fmt.to_bytes(2, "little") + ch.to_bytes(2, "little")
            + sr.to_bytes(4, "little")
            + (sr * block).to_bytes(4, "little")
            + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
            + b"data" + len(data).to_bytes(4, "little")
        )
        return hdr + data

    codes = np.arange(256, dtype=np.uint8).tobytes()
    np.testing.assert_allclose(
        decode_wav(wav(7, 8, codes)),
        ULAW2LIN[np.arange(256)].astype(np.float32) / 32767.0,
        rtol=0, atol=0,
    )
    np.testing.assert_allclose(
        decode_wav(wav(6, 8, codes)),
        ALAW2LIN[np.arange(256)].astype(np.float32) / 32767.0,
        rtol=0, atol=0,
    )
    # stereo mu-law: channels average
    st = decode_wav(wav(7, 8, bytes([0x00, 0xFF, 0x80, 0x7F]), ch=2))
    exp = np.array(
        [(ULAW2LIN[0x00] + ULAW2LIN[0xFF]) / 2,
         (ULAW2LIN[0x80] + ULAW2LIN[0x7F]) / 2], np.float32) / 32767.0
    np.testing.assert_allclose(st, exp, rtol=0, atol=1e-7)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_wav(wav(3, 32, b"\x00" * 8))  # IEEE float: unsupported


def test_wav_ima_adpcm_blocks():
    """WAV format 0x11 (IMA ADPCM, mono): block headers emit their
    predictor as the block's first sample, blocks decode independently
    and concatenate; a trailing sub-header fragment is ignored."""
    from ds2_spark.operators.audio import decode_wav

    def wav(fmt, bits, data, block_align, ch=1, sr=8000):
        hdr = (
            b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + fmt.to_bytes(2, "little") + ch.to_bytes(2, "little")
            + sr.to_bytes(4, "little")
            + (sr * block_align).to_bytes(4, "little")
            + block_align.to_bytes(2, "little") + bits.to_bytes(2, "little")
            + b"data" + len(data).to_bytes(4, "little")
        )
        return hdr + data

    rng = np.random.default_rng(9)
    blocks = []
    exp = []
    for pred0, idx0 in ((0, 0), (-5000, 40), (1234, 88)):
        body = rng.integers(0, 256, size=8, dtype=np.uint8).tobytes()
        blk = pred0.to_bytes(2, "little", signed=True) + bytes([idx0, 0]) + body
        blocks.append(blk)
        exp.append(pred0)
        exp.extend(_adpcm_ref_scalar(blk).tolist())
    data = b"".join(blocks) + b"\x00\x00"  # trailing fragment < 4 bytes
    got = decode_wav(wav(0x11, 4, data, block_align=12))
    np.testing.assert_allclose(
        got, np.array(exp, np.float32) / 32767.0, rtol=0, atol=0
    )


def test_g711_encoders_invert_decode_tables():
    """The standard segmented encoders are exact inverses of the
    expansion tables: every A-law code roundtrips decode->encode;
    every mu-law code except the redundant negative zero 0x7F (which
    re-encodes as the canonical 0xFF) does too. Quantization error of
    encode->decode is bounded by the segment step."""
    from ds2_spark.operators.audio import (
        ALAW2LIN,
        ULAW2LIN,
        encode_alaw_int,
        encode_ulaw_int,
    )

    c = np.arange(256)
    assert (encode_alaw_int(ALAW2LIN[c]) == c).all()
    u = encode_ulaw_int(ULAW2LIN[c])
    assert (u[c != 0x7F] == c[c != 0x7F]).all()
    assert u[0x7F] == 0xFF

    x = np.arange(-33000, 33001, 7)
    for enc, table in ((encode_ulaw_int, ULAW2LIN), (encode_alaw_int, ALAW2LIN)):
        rt = table[enc(x)].astype(np.int64)
        clipped = np.clip(x, -32635 if table is ULAW2LIN else -32767,
                          32635 if table is ULAW2LIN else 32767)
        err = np.abs(rt - clipped)
        assert err.max() <= 1024, err.max()          # coarsest segment step
        fine = np.abs(x) <= 240
        assert err[fine].max() <= 16, err[fine].max()  # fine segments


def test_audio_transcode(spark):
    """Transcode normalizes a mixed-codec corpus: G.711/ADPCM clips
    re-encode to PCM16 exactly (expansion values are representable),
    PCM16 re-encodes to mu-law with the standard quantization, and
    refusals (NULL bytes, unknown codec) pass through with NULL bytes
    and their ORIGINAL codec tag for quarantine routing."""
    from ds2_spark.operators.audio import (
        ALAW2LIN,
        ULAW2LIN,
        audio_transcode,
        encode_ulaw_int,
    )

    rng = np.random.default_rng(21)
    ub = rng.integers(0, 256, size=101, dtype=np.uint8)
    pcm = rng.integers(-32768, 32768, size=80, dtype=np.int16)
    df = spark.createDataFrame(
        [
            ("u", bytearray(ub.tobytes()), 8000, 13, "pcm_ulaw"),
            ("p", bytearray(pcm.tobytes()), 8000, 10, "pcm_s16le"),
            ("nul", None, 8000, 0, "pcm_s16le"),
            ("bad", bytearray(b"xxxx"), 8000, 0, "mp3"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    # to PCM16: G.711 expansion values are exactly representable
    out = {r["clip_id"]: r for r in audio_transcode(df, "pcm_s16le").collect()}
    got = np.frombuffer(bytes(out["u"]["bytes"]), dtype="<i2")
    np.testing.assert_array_equal(got, ULAW2LIN[ub])
    assert out["u"]["codec"] == "pcm_s16le" and out["u"]["n_samples"] == 101
    np.testing.assert_array_equal(
        np.frombuffer(bytes(out["p"]["bytes"]), dtype="<i2"), pcm
    )
    assert out["nul"]["bytes"] is None and out["nul"]["codec"] == "pcm_s16le"
    assert out["bad"]["bytes"] is None and out["bad"]["codec"] == "mp3"
    assert out["bad"]["n_samples"] == 0

    # to mu-law: codes match the standard encoder applied to the
    # decoded linear values
    out = {r["clip_id"]: r for r in audio_transcode(df, "pcm_ulaw").collect()}
    np.testing.assert_array_equal(
        np.frombuffer(bytes(out["p"]["bytes"]), dtype=np.uint8),
        encode_ulaw_int(pcm.astype(np.int64)),
    )
    np.testing.assert_array_equal(
        np.frombuffer(bytes(out["u"]["bytes"]), dtype=np.uint8),
        encode_ulaw_int(ULAW2LIN[ub].astype(np.int64)),
    )

    import pytest as _pytest
    with _pytest.raises(ValueError):
        audio_transcode(df, "opus")


def test_audio_chunk_windows(spark):
    """JVM byte-slicing audio chunker: window boundaries are exact
    sample math on the codec width, overlap steps correctly, the
    short tail is kept (unless under min_ms), zero-overlap chunks
    reconstruct the original payload, and stateful codecs pass
    through as a single NULL-chunk row."""
    from ds2_spark.operators.audio import audio_chunk

    rng = np.random.default_rng(17)
    pcm = rng.integers(-30000, 30000, 1000, np.int64).astype("<i2").tobytes()
    ub = rng.integers(0, 256, 900, np.uint8).tobytes()
    short = rng.integers(-100, 100, 100, np.int64).astype("<i2").tobytes()
    df = spark.createDataFrame(
        [
            ("p", bytearray(pcm), 8000, 125, "pcm_s16le"),
            ("u", bytearray(ub), 8000, 112, "pcm_ulaw"),
            ("s", bytearray(short), 8000, 12, "pcm_s16le"),
            ("ad", bytearray(b"\x00\x00\x14\x00abc"), 8000, 10, "adpcm_ima"),
            ("nul", None, 8000, 0, "pcm_s16le"),
        ],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )

    out = audio_chunk(df, chunk_ms=50).collect()
    by = {}
    for r in out:
        by.setdefault(r["clip_id"], []).append(r)
    p = sorted(by["p"], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in p] == [0, 1, 2]
    assert [r["n_samples"] for r in p] == [400, 400, 200]
    assert [r["start_ms"] for r in p] == [0, 50, 100]
    assert [r["dur_ms"] for r in p] == [50, 50, 25]
    assert b"".join(bytes(r["bytes"]) for r in p) == pcm  # reconstruction
    u = sorted(by["u"], key=lambda r: r["chunk_id"])
    assert [r["n_samples"] for r in u] == [400, 400, 100]  # width 1
    assert b"".join(bytes(r["bytes"]) for r in u) == ub
    assert [r["n_samples"] for r in by["s"]] == [100]  # short clip kept
    assert by["ad"][0]["chunk_id"] == -1 and by["ad"][0]["bytes"] is None
    assert by["nul"][0]["chunk_id"] == -1

    # overlap: 50ms windows stepping 25ms
    p2 = sorted(
        (r for r in audio_chunk(df, 50, overlap_ms=25).collect()
         if r["clip_id"] == "p"),
        key=lambda r: r["chunk_id"],
    )
    assert [r["n_samples"] for r in p2] == [400, 400, 400, 400]
    assert [r["start_ms"] for r in p2] == [0, 25, 50, 75]
    np_pcm = np.frombuffer(pcm, dtype="<i2")
    for r in p2:
        s = r["chunk_id"] * 200
        assert bytes(r["bytes"]) == np_pcm[s : s + 400].tobytes()

    # min_ms drops the short tail
    p3 = [r for r in audio_chunk(df, 50, min_ms=30).collect()
          if r["clip_id"] == "p"]
    assert sorted(r["chunk_id"] for r in p3) == [0, 1]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        audio_chunk(df, 50, overlap_ms=50)


def test_decode_wav_int_matches_float_surface():
    """The integer WAV path (oracle-checkable) agrees with the float
    decode_wav surface on mono files and refuses multichannel (channel
    averaging is a float op)."""
    import pytest as _pytest

    from ds2_spark.operators.audio import decode_wav, decode_wav_int

    def wav(fmt, bits, data, block, ch=1, sr=8000):
        hdr = (
            b"RIFF" + (36 + len(data)).to_bytes(4, "little") + b"WAVE"
            + b"fmt " + (16).to_bytes(4, "little")
            + fmt.to_bytes(2, "little") + ch.to_bytes(2, "little")
            + sr.to_bytes(4, "little") + (sr * block).to_bytes(4, "little")
            + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
            + b"data" + len(data).to_bytes(4, "little")
        )
        return hdr + data

    rng = np.random.default_rng(51)
    pcm = rng.integers(-30000, 30000, 64, np.int64).astype("<i2")
    g = rng.integers(0, 256, 33, np.uint8)
    for b, n in ((wav(1, 16, pcm.tobytes(), 2), 64),
                 (wav(7, 8, g.tobytes(), 1), 33),
                 (wav(6, 8, g.tobytes(), 1), 33)):
        xi = decode_wav_int(b)
        assert len(xi) == n
        np.testing.assert_allclose(
            decode_wav(b), xi.astype(np.float32) / 32767.0, rtol=0, atol=0
        )
    stereo = wav(1, 16, pcm.tobytes(), 4, ch=2)
    with _pytest.raises(ValueError):
        decode_wav_int(stereo)
    assert len(decode_wav(stereo)) == 32  # float surface averages


def test_audio_tone_probe_matches_scalar_reference(spark):
    """Batched tone-probe kernel vs a per-clip scalar NumPy twin, plus
    the classification contract on planted signals: a pure probe-bin
    tone must read tonal, a Nyquist alternation must not, and NULL /
    sub-sample payloads refuse. Also pins odd-byte truncation (the
    trailing byte must not shift neighbours in the batch)."""
    import numpy as np

    from ds2_spark.operators.audio import audio_tone_probe

    C = np.array([1000, 707, 0, -707, -1000, -707, 0, 707], dtype=np.int64)
    S = np.array([0, 707, 1000, 707, 0, -707, -1000, -707], dtype=np.int64)
    rng = np.random.default_rng(52)

    def pcm_bytes(x):
        return np.asarray(x, dtype="<i2").tobytes()

    tone = np.tile([300, 212, 0, -212, -300, -212, 0, 212], 40)
    nyq = 250 * np.where(np.arange(320) % 2 == 0, 1, -1)
    noise = rng.integers(-20000, 20000, 317, np.int64)
    rows = [
        ("tone", pcm_bytes(tone)),
        ("tone_oddtail", pcm_bytes(tone) + b"\x7f"),  # odd byte drops
        ("nyquist", pcm_bytes(nyq)),
        ("noise", pcm_bytes(noise)),
        ("null", None),
        ("onebyte", b"\x01"),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: r
        for r in audio_tone_probe(df).collect()
    }

    # scalar twin, independently formulated (per-clip loop, int math)
    for cid, b in rows:
        if b is None or len(b) < 2:
            assert not got[cid]["decoded_ok"]
            assert got[cid]["n_samples"] == 0
            assert not got[cid]["is_tonal"]
            continue
        x = np.frombuffer(b[: len(b) // 2 * 2], dtype="<i2").astype(np.int64)
        cc = int(sum(int(v) * int(C[i % 8]) for i, v in enumerate(x)))
        ss = int(sum(int(v) * int(S[i % 8]) for i, v in enumerate(x)))
        assert got[cid]["corr_c"] == cc, cid
        assert got[cid]["corr_s"] == ss, cid
        assert got[cid]["n_samples"] == len(x)
        assert got[cid]["is_tonal"] == (
            abs(cc) + abs(ss) > 6000 * len(x)
        ), cid

    assert got["tone"]["is_tonal"] and got["tone_oddtail"]["is_tonal"]
    assert not got["nyquist"]["is_tonal"]
    # odd tail byte truncates: identical correlations to the clean clip
    assert got["tone_oddtail"]["corr_c"] == got["tone"]["corr_c"]
    assert got["tone_oddtail"]["corr_s"] == got["tone"]["corr_s"]


def test_audio_trim_edges_and_content(spark):
    """Silence trim: leading/trailing dead air drops, interior pauses
    stay, kept_energy spans the whole kept range, and the sliced bytes
    are exactly the kept whole frames of the ORIGINAL payload
    (verified byte-for-byte against manual slicing). All-silent,
    NULL, and sub-frame payloads refuse or keep nothing."""
    import numpy as np

    from ds2_spark.operators.audio import audio_trim

    fs = 4  # small frames; threshold 100
    loud = np.array([60, -60, 60, -60], dtype="<i2")   # E = 240
    quiet = np.array([5, -5, 5, -5], dtype="<i2")      # E = 20

    def clip(*frames):
        return b"".join(f.tobytes() for f in frames)

    rows = [
        # lead 2 silent, tail 1 silent, interior quiet frame kept
        ("mid", clip(quiet, quiet, loud, quiet, loud, quiet)),
        ("all_silent", clip(quiet, quiet, quiet)),
        ("all_loud", clip(loud, loud)),
        ("null", None),
        ("subframe", b"\x01\x00"),  # < 1 frame
        # partial tail frame after the last voiced frame truncates
        ("tail_partial", clip(quiet, loud) + b"\x99\x99"),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: r
        for r in audio_trim(df, frame_samples=fs, energy_threshold=100)
        .collect()
    }

    m = got["mid"]
    assert (m["first_voiced"], m["last_voiced"]) == (2, 4)
    assert (m["start_byte"], m["end_byte"]) == (2 * 8, 5 * 8)
    assert m["kept_samples"] == 3 * fs
    assert m["kept_energy"] == 240 + 20 + 240  # interior quiet stays
    assert bytes(m["bytes"]) == rows[0][1][16:40]

    s = got["all_silent"]
    assert s["decoded_ok"] and s["first_voiced"] == -1
    assert s["bytes"] is None and s["kept_samples"] == 0

    a = got["all_loud"]
    assert (a["first_voiced"], a["last_voiced"]) == (0, 1)
    assert bytes(a["bytes"]) == rows[2][1]

    assert not got["null"]["decoded_ok"]
    assert not got["subframe"]["decoded_ok"]

    tp = got["tail_partial"]
    assert (tp["first_voiced"], tp["last_voiced"]) == (1, 1)
    assert bytes(tp["bytes"]) == loud.tobytes()
    assert tp["n_frames"] == 2  # partial tail never counts


def test_audio_gain_normalize_content_and_edges(spark):
    """Gain normalization: exact integer rescale to target peak in
    both directions, byte content verified against a NumPy replay;
    silence has no defined gain (bytes NULL), NULL/short payloads
    refuse, odd tail bytes truncate, int16 extremes stay in range."""
    import numpy as np

    from ds2_spark.operators.audio import audio_gain_normalize

    tp = 1000
    rows = [
        ("up", np.array([100, -250, 50], dtype="<i2").tobytes()),
        ("down", np.array([30000, -15000, 3], dtype="<i2").tobytes()),
        ("extreme", np.array([-32768, 32767, 1], dtype="<i2").tobytes()),
        ("silent", np.array([0, 0, 0, 0], dtype="<i2").tobytes()),
        ("null", None),
        ("short", b"\x01"),
        ("odd_tail", np.array([200, -400], dtype="<i2").tobytes() + b"\x9f"),
        ("exact_peak", np.array([tp, -tp], dtype="<i2").tobytes()),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: r
        for r in audio_gain_normalize(df, target_peak=tp).collect()
    }

    def replay(x):
        x = np.asarray(x, dtype=np.int64)
        peak = int(np.abs(x).max())
        y = np.sign(x) * (np.abs(x) * tp // peak)
        return peak, y

    for cid, samples in [
        ("up", [100, -250, 50]),
        ("down", [30000, -15000, 3]),
        ("extreme", [-32768, 32767, 1]),
        ("odd_tail", [200, -400]),
        ("exact_peak", [tp, -tp]),
    ]:
        r = got[cid]
        peak, y = replay(samples)
        assert r["decoded_ok"] and r["peak"] == peak, cid
        assert r["n_samples"] == len(samples), cid
        assert r["gain_ppm"] == tp * 1_000_000 // peak, cid
        assert r["out_energy"] == int(np.abs(y).sum()), cid
        assert bytes(r["bytes"]) == y.astype("<i2").tobytes(), cid
        assert int(np.abs(y).max()) == tp, cid  # lands exactly on target

    s = got["silent"]
    assert s["decoded_ok"] and s["peak"] == 0 and s["gain_ppm"] == 0
    assert s["bytes"] is None and s["out_energy"] == 0

    assert not got["null"]["decoded_ok"] and got["null"]["bytes"] is None
    assert not got["short"]["decoded_ok"]


def test_audio_downmix_content_and_edges(spark):
    """Stereo downmix: exact sign-split integer average verified
    byte-for-byte against a NumPy replay; odd channel sums truncate
    toward zero; NULL/short payloads refuse; partial frames drop;
    4-channel mix works; all-(-32768) frames clip into int16."""
    import numpy as np

    from ds2_spark.operators.audio import audio_downmix

    def inter(*frames):
        return np.array(
            [s for fr in frames for s in fr], dtype="<i2"
        ).tobytes()

    rows = [
        ("mix", inter([100, 201], [-100, 201], [-7, -8], [32767, 32766])),
        ("neg_odd", inter([-3, -4])),          # sum -7 -> trunc -> -3
        ("clip_floor", inter([-32768, -32768])),
        ("partial", inter([10, 20]) + b"\x55"),  # stray tail byte drops
        ("null", None),
        ("short", b"\x01\x00"),                # < one stereo frame
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: r for r in audio_downmix(df, channels=2).collect()
    }

    def replay(pairs):
        s = np.array([a + b for a, b in pairs], dtype=np.int64)
        y = np.sign(s) * (np.abs(s) // 2)
        return np.clip(y, -32768, 32767)

    m = got["mix"]
    y = replay([(100, 201), (-100, 201), (-7, -8), (32767, 32766)])
    assert m["decoded_ok"] and m["n_frames"] == 4
    assert bytes(m["bytes"]) == y.astype("<i2").tobytes()
    assert m["out_energy"] == int(np.abs(y).sum())
    assert list(y) == [150, 50, -7, 32766]     # trunc + sign checks

    assert bytes(got["neg_odd"]["bytes"]) == np.array(
        [-3], dtype="<i2"
    ).tobytes()
    assert bytes(got["clip_floor"]["bytes"]) == np.array(
        [-32768], dtype="<i2"
    ).tobytes()
    assert got["partial"]["n_frames"] == 1
    assert not got["null"]["decoded_ok"]
    assert not got["short"]["decoded_ok"]

    # 4-channel
    quad = spark.createDataFrame(
        [("q", np.array([10, 20, 30, -41], dtype="<i2").tobytes())],
        "clip_id string, bytes binary",
    )
    r4 = audio_downmix(quad, channels=4).collect()[0]
    assert r4["n_frames"] == 1
    assert bytes(r4["bytes"]) == np.array([4], dtype="<i2").tobytes()


def test_audio_clipping_runs_and_boundaries(spark):
    """Clipping QC: counts, ppm, max consecutive run; a run must NOT
    merge across clip boundaries even when adjacent clips in the same
    Arrow batch both start/end clipped; -32768 counts; NULL refuses."""
    import numpy as np

    from ds2_spark.operators.audio import audio_clipping

    C, q = 32767, 100  # clipped / quiet samples

    def pcm(vals):
        return np.array(vals, dtype="<i2").tobytes()

    rows = [
        # runs: [C,-C]=2, [C,C,-32768]=3 (max), lone C: 6 clipped of 9
        ("runs", pcm([C, -C, q, C, C, -32768, q, q, C])),
        # ends fully clipped -> next clip must not extend this run
        ("tail_clip", pcm([q, C, C, C])),
        ("head_clip", pcm([C, C, q, q])),
        ("clean", pcm([5, -5, 7])),
        ("all_clip", pcm([C, C, C, C])),
        ("null", None),
    ]
    # single partition forces one Arrow batch -> boundary case is real
    df = spark.createDataFrame(rows, "clip_id string, bytes binary").coalesce(1)
    got = {r["clip_id"]: r for r in audio_clipping(df).collect()}

    r = got["runs"]
    assert (r["clipped"], r["max_run"]) == (6, 3)
    assert r["clip_ppm"] == 6 * 1_000_000 // 9
    assert got["tail_clip"]["max_run"] == 3
    assert got["head_clip"]["max_run"] == 2
    assert got["clean"]["clipped"] == 0 and got["clean"]["max_run"] == 0
    a = got["all_clip"]
    assert (a["clipped"], a["max_run"], a["clip_ppm"]) == (4, 4, 1_000_000)
    assert not got["null"]["decoded_ok"]


def test_audio_compress_dynamics_content(spark):
    """DRC: pass-through below the knee, 1/ratio overshoot above,
    sign-symmetric, byte content replayed by NumPy; ratio=1 is the
    identity; NULL refuses."""
    import numpy as np

    from ds2_spark.operators.audio import audio_compress_dynamics

    thr, rat = 1000, 4
    samples = [0, 999, 1000, 1001, -1001, 5000, -5000, 32767, -32768]
    rows = [
        ("a", np.array(samples, dtype="<i2").tobytes()),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    got = {
        r["clip_id"]: r
        for r in audio_compress_dynamics(
            df, threshold=thr, ratio=rat
        ).collect()
    }

    x = np.array(samples, dtype=np.int64)
    ax = np.abs(x)
    mag = np.where(ax > thr, thr + (ax - thr) // rat, ax)
    y = np.sign(x) * mag
    r = got["a"]
    assert bytes(r["bytes"]) == y.astype("<i2").tobytes()
    assert r["reduced"] == int((ax > thr).sum()) == 6
    assert r["out_energy"] == int(mag.sum())
    assert not got["null"]["decoded_ok"]

    # ratio=1 must be the identity transform
    ident = audio_compress_dynamics(
        spark.createDataFrame(rows[:1], "clip_id string, bytes binary"),
        threshold=thr, ratio=1,
    ).collect()[0]
    assert bytes(ident["bytes"]) == rows[0][1]


def test_encode_wav_roundtrip_exact():
    import numpy as np

    from ds2_spark.operators.audio import (
        decode_wav_int,
        encode_wav_pcm16,
        parse_wav_header,
    )

    rng = np.random.RandomState(5)
    pcm = rng.randint(-32768, 32768, size=977).astype(np.int32)
    b = encode_wav_pcm16(pcm, 8000)
    h = parse_wav_header(b)
    assert (h["audio_format"], h["channels"], h["sr_hz"], h["bits"]) == (
        1, 1, 8000, 16,
    )
    assert len(b) == 44 + 2 * 977 and h["data_len"] == 2 * 977
    assert (decode_wav_int(b) == pcm).all()
    # out-of-range values clip, not wrap
    clipped = encode_wav_pcm16(np.array([40000, -40000]), 16000)
    assert list(decode_wav_int(clipped)) == [32767, -32768]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sr_hz"):
        encode_wav_pcm16(pcm, 0)


def test_audio_wrap_wav_quarantine_and_codecs(spark):
    import numpy as np

    from ds2_spark.operators.audio import (
        audio_wrap_wav,
        decode_wav_int,
        decode_ulaw_int,
        encode_ulaw_int,
    )

    pcm = np.arange(-50, 50, dtype=np.int32) * 100
    rows = [
        ("pcm", bytes(pcm.astype("<i2").tobytes()), "pcm_s16le", 16000),
        ("ulaw", bytes(encode_ulaw_int(pcm).tobytes()), "pcm_ulaw", 8000),
        ("null", None, "pcm_s16le", 16000),
        ("unknown", b"\x00\x01", "opus", 16000),
        ("badsr", bytes(pcm.astype("<i2").tobytes()), "pcm_s16le", 0),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    )
    out = {r["clip_id"]: r for r in audio_wrap_wav(df).collect()}
    assert out["pcm"]["codec"] == "wav"
    assert (decode_wav_int(bytes(out["pcm"]["bytes"])) == pcm).all()
    # G.711 input decodes through its table then wraps as PCM16
    assert out["ulaw"]["codec"] == "wav"
    expect = decode_ulaw_int(bytes(encode_ulaw_int(pcm).tobytes()))
    assert (decode_wav_int(bytes(out["ulaw"]["bytes"])) == expect).all()
    # quarantine: NULL payload / unknown codec / bad sr keep ORIGINAL
    # codec tag with NULL bytes
    for cid, codec in (("null", "pcm_s16le"), ("unknown", "opus"),
                       ("badsr", "pcm_s16le")):
        assert out[cid]["codec"] == codec, cid
        assert out[cid]["bytes"] is None, cid
        assert out[cid]["n_samples"] == 0, cid


def _mel_twin(n_mels, n_fft, sr):
    # independent loop-built mel filterbank (no np.linspace reuse
    # beyond the mel points; explicit per-bin triangles)
    import math

    import numpy as np

    def mel(f):
        return 2595.0 * math.log10(1.0 + f / 700.0)

    def imel(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    top = mel(sr / 2.0)
    pts = [imel(top * k / (n_mels + 1)) for k in range(n_mels + 2)]
    nb = n_fft // 2 + 1
    freqs = [k * sr / n_fft for k in range(nb)]
    fb = np.zeros((n_mels, nb))
    for m in range(n_mels):
        lo, c, hi = pts[m], pts[m + 1], pts[m + 2]
        for k, f in enumerate(freqs):
            if lo < f < hi:
                fb[m, k] = min((f - lo) / (c - lo), (hi - f) / (hi - c))
            elif f == c:
                fb[m, k] = 1.0
    return fb


def test_mel_filterbank_matches_loop_twin():
    import numpy as np

    from ds2_spark.operators.audio import mel_filterbank

    for n_mels, n_fft, sr in [(16, 400, 16000), (8, 256, 8000)]:
        got = mel_filterbank(n_mels, n_fft, sr)
        exp = _mel_twin(n_mels, n_fft, sr)
        assert np.allclose(got, exp, atol=1e-9), (n_mels, n_fft, sr)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mel"):
        mel_filterbank(0, 400, 16000)


def test_audio_logmel_band_energy(spark):
    import numpy as np

    from ds2_spark.operators.audio import audio_logmel

    sr = 16000
    t = np.arange(sr, dtype=np.float64) / sr

    def tone(hz):
        return bytes(
            (12000 * np.sin(2 * np.pi * hz * t)).astype("<i2").tobytes()
        )

    rows = [
        ("low", tone(200), sr, "pcm_s16le"),
        ("high", tone(6000), sr, "pcm_s16le"),
        ("null", None, sr, "pcm_s16le"),
        ("short", b"\x01\x00" * 10, sr, "pcm_s16le"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string"
    )
    out = {r["clip_id"]: r for r in audio_logmel(df, n_mels=16).collect()}
    lo, hi = out["low"], out["high"]
    assert lo["decoded_ok"] and hi["decoded_ok"]
    assert lo["n_frames"] == hi["n_frames"] > 90
    # a 200 Hz tone peaks in a LOWER mel band than a 6 kHz tone
    assert int(np.argmax(lo["logmel"])) < int(np.argmax(hi["logmel"]))
    # refusals
    assert out["null"]["decoded_ok"] is False and out["null"]["logmel"] is None
    assert out["short"]["decoded_ok"] is False


def test_audio_logmel_matches_numpy_replay(spark):
    import numpy as np

    from ds2_spark.operators.audio import audio_logmel, mel_filterbank

    sr, frame, hop, n_mels = 8000, 256, 128, 8
    rng = np.random.RandomState(3)
    pcm = rng.randint(-20000, 20000, size=4000)
    b = bytes(pcm.astype("<i2").tobytes())
    df = spark.createDataFrame(
        [("x", b, sr, "pcm_s16le")],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    got = audio_logmel(df, n_mels=n_mels, frame=frame, hop=hop).collect()[0]
    # independent replay: explicit frame loop, per-frame rFFT
    hann = 0.5 - 0.5 * np.cos(2 * np.pi * np.arange(frame) / frame)
    fb = mel_filterbank(n_mels, frame, sr)
    acc = []
    x = pcm.astype(np.float64) / 32767.0  # matches _decode_pcm16's scale
    for s in range(0, len(x) - frame + 1, hop):
        spec = np.abs(np.fft.rfft(x[s : s + frame] * hann)) ** 2
        acc.append(np.log10(np.maximum(fb @ spec, 1e-10)))
    exp = np.mean(acc, axis=0)
    assert got["n_frames"] == len(acc)
    assert np.allclose(np.array(got["logmel"], dtype=np.float64), exp,
                       atol=1e-5)


def test_adpcm_encode_roundtrip_snr():
    import numpy as np

    from ds2_spark.operators.audio import (
        adpcm_decode_batch,
        adpcm_encode_batch,
    )

    sr = 16000
    t = np.arange(sr) / sr
    x = (12000 * np.sin(2 * np.pi * 200 * t)).astype(np.int32)
    enc = adpcm_encode_batch([x])[0]
    assert len(enc) == 4 + len(x) // 2  # 4:1 vs PCM16 + header
    dec = adpcm_decode_batch([enc])[0]
    n = min(len(x), len(dec))
    err = x[:n].astype(np.float64) - dec[:n]
    snr = 10 * np.log10((x[:n].astype(np.float64) ** 2).sum() / (err**2).sum())
    assert snr >= 30.0, snr  # band-limited round-trip invariant
    # encoder tracks the decoder's reconstruction: error bounded per
    # sample by the local step (no drift) — check last-quarter SNR too
    tail = slice(3 * n // 4, n)
    snr_tail = 10 * np.log10(
        (x[tail].astype(np.float64) ** 2).sum()
        / (err[tail] ** 2).sum()
    )
    assert snr_tail >= 30.0, snr_tail


def test_adpcm_encode_batch_lockstep_independence():
    import numpy as np

    from ds2_spark.operators.audio import adpcm_encode_batch

    rng = np.random.RandomState(9)
    clips = [
        (6000 * np.sin(2 * np.pi * 300 * np.arange(nn) / 8000)).astype(int)
        for nn in (100, 37, 2)
    ]
    together = adpcm_encode_batch(clips + [None, np.array([5])])
    alone = [adpcm_encode_batch([c])[0] for c in clips]
    assert together[:3] == alone  # batch lockstep == per-clip
    assert together[3] is None and together[4] is None
    # odd length truncates to even, never shifts neighbours
    assert len(together[1]) == 4 + 36 // 2


def test_audio_transcode_adpcm_lossy_optin(spark):
    import numpy as np
    import pytest as _pytest

    from ds2_spark.operators.audio import (
        audio_codec_energy,
        audio_transcode,
    )

    t = np.arange(4000) / 8000
    pcm = (9000 * np.sin(2 * np.pi * 250 * t)).astype(np.int32)
    df = spark.createDataFrame(
        [("a", bytes(pcm.astype("<i2").tobytes()), "pcm_s16le"),
         ("bad", None, "pcm_s16le")],
        "clip_id string, bytes binary, codec string",
    )
    with _pytest.raises(ValueError, match="LOSSY"):
        audio_transcode(df, "adpcm_ima")
    out = {r["clip_id"]: r
           for r in audio_transcode(df, "adpcm_ima", allow_lossy=True).collect()}
    assert out["a"]["codec"] == "adpcm_ima"
    assert len(out["a"]["bytes"]) == 4 + len(pcm) // 2
    assert out["bad"]["bytes"] is None and out["bad"]["codec"] == "pcm_s16le"
    # the transcoded corpus decodes through the registry path
    en = {r["clip_id"]: r for r in audio_codec_energy(
        audio_transcode(df, "adpcm_ima", allow_lossy=True)
    ).collect()}
    assert en["a"]["decoded_ok"] and en["a"]["n_samples"] == len(pcm)
    assert not en["bad"]["decoded_ok"]


def test_wrap_and_logmel_null_sr_quarantines(spark):
    # Arrow delivers NULL ints as NaN — int(NaN) must not kill the task
    import numpy as np

    from ds2_spark.operators.audio import audio_logmel, audio_wrap_wav

    pcm = bytes((np.arange(600) % 100).astype("<i2").tobytes())
    df = spark.createDataFrame(
        [("ok", pcm, 16000, "pcm_s16le"), ("nullsr", pcm, None, "pcm_s16le")],
        "clip_id string, bytes binary, sr_hz int, codec string",
    )
    w = {r["clip_id"]: r for r in audio_wrap_wav(df).collect()}
    assert w["ok"]["codec"] == "wav"
    assert w["nullsr"]["bytes"] is None and w["nullsr"]["codec"] == "pcm_s16le"
    m = {r["clip_id"]: r for r in audio_logmel(df, frame=256, hop=128).collect()}
    assert m["ok"]["decoded_ok"] is True
    assert m["nullsr"]["decoded_ok"] is False


def test_transcode_adpcm_odd_length_reports_even_count(spark):
    import numpy as np

    from ds2_spark.operators.audio import audio_codec_energy, audio_transcode

    pcm = (np.arange(37) * 100).astype(np.int32)  # odd sample count
    df = spark.createDataFrame(
        [("x", bytes(pcm.astype("<i2").tobytes()), "pcm_s16le")],
        "clip_id string, bytes binary, codec string",
    )
    tc = audio_transcode(df, "adpcm_ima", allow_lossy=True)
    row = tc.collect()[0]
    assert row["n_samples"] == 36  # truncated-to-even, not the input 37
    assert len(row["bytes"]) == 4 + 36 // 2
    en = audio_codec_energy(tc).collect()[0]
    assert en["n_samples"] == 36  # payload round-trips to the REPORTED count


def test_framing_operators_refuse_a_batch_with_no_whole_frame(spark):
    """One Arrow batch in which no row holds a whole frame (NULL, empty,
    1 byte, and a 6-byte payload under 8-byte frames): every framing
    operator runs its empty-decode path without raising and refuses
    every row — decoded_ok false, NULL bytes, no VAD segments, NULL fp.
    The one exception is the fingerprint's NULL rule, which is on the
    raw payload: the 6-byte row has no whole frame but gets fp 0."""
    from ds2_spark.operators.audio import (
        audio_clipping,
        audio_compress_dynamics,
        audio_downmix,
        audio_fingerprint,
        audio_gain_normalize,
        audio_segment_extract,
        audio_tone_probe,
        audio_trim,
        audio_vad_segments,
    )

    rows = [
        ("null", None),
        ("empty", b""),
        ("one_byte", b"\x7f"),
        ("subframe", b"\x10\x00\x20\x00\x30\x00"),  # 3 samples < 1 frame
    ]
    # single partition: the whole input is one batch that decodes nothing
    df = spark.createDataFrame(rows, "clip_id string, bytes binary").coalesce(1)
    # 1-sample frames: the sub-frame row would decode, so these see
    # only the rows that are short for every frame size
    short = df.where("clip_id != 'subframe'")
    fs = 4  # 8-byte frames, as is downmix over 4 channels

    fp = {r["clip_id"]: r for r in audio_fingerprint(df, frame_samples=fs).collect()}
    assert set(fp) == {c for c, _ in rows}
    assert all(r["n_frames"] == 0 for r in fp.values())
    assert fp["subframe"]["fp"] == 0
    assert all(fp[c]["fp"] is None for c in ("null", "empty", "one_byte"))

    for op in (audio_vad_segments, audio_segment_extract):
        assert op(df, frame_samples=fs, energy_threshold=1).collect() == []

    refusals = [
        (audio_trim(df, frame_samples=fs, energy_threshold=1), 4),
        (audio_downmix(df, channels=4), 4),
        (audio_tone_probe(short), 3),
        (audio_gain_normalize(short), 3),
        (audio_clipping(short), 3),
        (audio_compress_dynamics(short), 3),
    ]
    for out, n in refusals:
        got = out.collect()
        assert len(got) == n
        for r in got:
            assert r["decoded_ok"] is False, r
            if "bytes" in out.columns:
                assert r["bytes"] is None, r
