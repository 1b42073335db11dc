"""Audio decode / sanity stage (operator K8, SURVEY.md §2.9).

Decodes the `bytes` payload to PCM inside an Arrow-batched
`mapInPandas` — the ONLY stage that ever touches the binary column.
At 10^12-clip scale the discipline is:

  scan(clip_id, bytes, sr_hz, dur_ms, codec)   <- column-pruned scan
    -> mapInPandas(decode + sanity)            <- narrow, no shuffle
    -> small (clip_id, metrics) output         <- only THIS joins back

so audio bytes never enter a shuffle (SURVEY.md §7.3 "bytes column
discipline"). Fixtures are raw PCM16-LE (decode = np.frombuffer);
G.711 mu-law/A-law decode FOR REAL (256-entry integer expansion
tables built from the published ITU formulas — see the G.711 section
below); flac/opus/mp3 need external decoders not present in this
container — by DEFAULT those tags REFUSE to decode
(decoded_ok=false, the video-codec policy), and callers that know the
payload is PCM16-by-construction (this sandbox's fixtures) opt in per
call with ``pcm16_alias_codecs=FIXTURE_PCM16_ALIASES``.

The Python-side operators share one payload front-end, which owns the
refusal and truncation rules (audio_sanity and decode_pcm keep their
own refusal rules; audio_codec_energy batches the fixed-width codecs
and sends the rest through _decode_int_batch):

  _decode_int_batch    exact int32 decode (codec registry + ADPCM
                       lockstep) for the integer / transcode operators
  _decode_float_batch  its float twin over resolve_decoders, for the
                       float feature operators
  _pcm16_frames        whole-frame PCM16 framing of a whole Arrow
                       batch (one frombuffer, row owner per frame,
                       optional per-frame energies)
  _pack_pcm16_rows     the bytes-out repack of the PCM16 transforms
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AUDIO_SANITY_SCHEMA = (
    "clip_id string, pcm_ok boolean, dur_actual_ms int, dur_ok boolean, "
    "rms double, peak double, n_samples bigint"
)

# codec -> bytes->float32 PCM decoder. Only REAL decoders live here
# (raw PCM16 and the RIFF/WAV container parser). Compressed codecs
# (flac/opus/mp3) have NO entry: a clip tagged with one REFUSES to
# decode by default (decoded_ok=false / pcm_ok=false), mirroring the
# video policy in operators/jpeg.py — decoding a genuinely-compressed
# payload as raw PCM16 would yield garbage features that LOOK valid.
# Fixtures in this sandbox always carry PCM16 payloads regardless of
# the codec metadata tag (FIXTURES.md §1); callers that know this may
# OPT IN per call via `pcm16_alias_codecs=FIXTURE_PCM16_ALIASES`.
_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {}

# The fixture opt-in set: codec tags whose payloads are PCM16-by-
#-construction in this sandbox's synthetic data. NEVER registered by
# default — pass explicitly where the PCM16 precondition is known.
FIXTURE_PCM16_ALIASES: tuple[str, ...] = ("flac", "opus", "mp3")


def _decode_pcm16(b: bytes) -> np.ndarray:
    return np.frombuffer(b, dtype="<i2").astype(np.float32) / 32767.0


def register_decoder(codec: str, fn: Callable[[bytes], np.ndarray]) -> None:
    _DECODERS[codec] = fn


def resolve_decoders(
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> dict[str, Callable[[bytes], np.ndarray]]:
    """Decoder table for one operator call: the registered real
    decoders plus explicit PCM16 aliases. Returned BY VALUE so the
    mapInPandas closures capture it — a driver-side ``register_decoder``
    mutation would not propagate to executor Python workers (they
    re-import this module fresh), but a dict captured in the closure
    pickles with the plan and is identical on every worker."""
    d = dict(_DECODERS)
    for c in pcm16_alias_codecs:
        d[c] = _decode_pcm16
    return d


register_decoder("pcm_s16le", _decode_pcm16)


def parse_wav_header(b: bytes) -> dict | None:
    """RIFF/WAVE container header -> dict(audio_format, channels,
    sr_hz, bits, data_off, data_len), or None if not a WAV. Pure
    bytes — the WAV container is codec-free for PCM payloads, so this
    is a REAL parser (like the PPM/BMP image decoders), not a stub."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt " and body + 16 <= len(b):
            fmt = {
                "audio_format": int.from_bytes(b[body : body + 2], "little"),
                "channels": int.from_bytes(b[body + 2 : body + 4], "little"),
                "sr_hz": int.from_bytes(b[body + 4 : body + 8], "little"),
                "block_align": int.from_bytes(b[body + 12 : body + 14], "little"),
                "bits": int.from_bytes(b[body + 14 : body + 16], "little"),
            }
        elif cid == b"data":
            data = {"data_off": body, "data_len": min(size, len(b) - body)}
        pos = body + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    return {**fmt, **data}


def decode_wav(b: bytes) -> np.ndarray:
    """RIFF WAV -> float32 mono (channels averaged). Real formats:
    1 = PCM16, 6 = A-law, 7 = mu-law (the telephony WAV tags — G.711
    expansion tables below), 0x11 = IMA ADPCM (mono; block-structured,
    decoded by the same recurrence kernel). Anything else refuses
    loudly."""
    h = parse_wav_header(b)
    if h is None:
        raise ValueError("not a RIFF/WAVE stream")
    ch = max(h["channels"], 1)
    if h["audio_format"] == 1 and h["bits"] == 16:
        n = h["data_len"] // (2 * ch) * ch  # whole frames only
        pcm = np.frombuffer(b, dtype="<i2", count=n, offset=h["data_off"])
    elif h["audio_format"] in (6, 7) and h["bits"] == 8:
        n = h["data_len"] // ch * ch
        codes = np.frombuffer(b, dtype=np.uint8, count=n, offset=h["data_off"])
        pcm = (ALAW2LIN if h["audio_format"] == 6 else ULAW2LIN)[codes]
    elif h["audio_format"] == 0x11 and h["bits"] == 4:
        if ch != 1:
            raise ValueError("IMA ADPCM WAV: only mono supported")
        pcm = _decode_wav_ima_blocks(
            b[h["data_off"] : h["data_off"] + h["data_len"]],
            h.get("block_align") or 0,
        )
    else:
        raise ValueError("only PCM16 / A-law / mu-law / IMA-ADPCM WAV "
                         "supported")
    mono = pcm.reshape(-1, ch).mean(axis=1) if ch > 1 else pcm.astype(np.float32)
    return (mono / 32767.0).astype(np.float32)


def decode_wav_int(b: bytes) -> np.ndarray:
    """Mono RIFF WAV -> int32 linear samples (the oracle-checkable
    integer path: PCM16 passthrough, G.711 expansion tables, IMA
    ADPCM blocks). Multichannel refuses here — channel averaging is
    a float operation (decode_wav owns it)."""
    h = parse_wav_header(b)
    if h is None:
        raise ValueError("not a RIFF/WAVE stream")
    if h["channels"] != 1:
        raise ValueError("integer WAV path: mono only")
    if h["audio_format"] == 1 and h["bits"] == 16:
        n = h["data_len"] // 2
        return np.frombuffer(
            b, dtype="<i2", count=n, offset=h["data_off"]
        ).astype(np.int32)
    if h["audio_format"] in (6, 7) and h["bits"] == 8:
        codes = np.frombuffer(
            b, dtype=np.uint8, count=h["data_len"], offset=h["data_off"]
        )
        table = ALAW2LIN if h["audio_format"] == 6 else ULAW2LIN
        return table[codes].astype(np.int32)
    if h["audio_format"] == 0x11 and h["bits"] == 4:
        return _decode_wav_ima_blocks(
            b[h["data_off"] : h["data_off"] + h["data_len"]],
            h.get("block_align") or 0,
        ).astype(np.int32)
    raise ValueError("only PCM16 / A-law / mu-law / IMA-ADPCM WAV supported")


def _decode_wav_ima_blocks(data: bytes, block_align: int) -> np.ndarray:
    """WAV format-0x11 mono payload: a sequence of `block_align`-sized
    blocks, each (int16 predictor, uint8 step index, reserved) +
    nibbles — the raw framing adpcm_decode_batch already decodes,
    EXCEPT that per the Microsoft spec the block header's predictor is
    itself emitted as the block's first sample. Blocks are independent
    (that is the format's seek mechanism), so they decode as one
    across-blocks vectorized batch."""
    if block_align < 4:
        raise ValueError("IMA ADPCM WAV: block_align < 4")
    blocks = [
        data[i : i + block_align] for i in range(0, len(data), block_align)
    ]
    if blocks and len(blocks[-1]) < 4:
        blocks.pop()  # trailing sub-header fragment
    if not blocks:
        raise ValueError("IMA ADPCM WAV: no blocks")
    decoded = adpcm_decode_batch(blocks)
    out = []
    for blk, pcm in zip(blocks, decoded):
        if pcm is None:
            raise ValueError("IMA ADPCM WAV: invalid block header")
        pred0 = int.from_bytes(blk[0:2], "little", signed=True)
        out.append(np.concatenate([[np.int32(pred0)], pcm]))
    return np.concatenate(out)


register_decoder("wav", decode_wav)


# ---------------------------------------------------------------- G.711
# ITU-T G.711 mu-law / A-law: REAL compressed telephony codecs with
# exact integer decode semantics (8-bit logarithmic companding, 1
# byte/sample). Decode = a 256-entry int16 lookup table derived from
# the published expansion formulas, so (unlike flac/opus/mp3, which
# stay refused) these tags decode for real. The tables are built from
# the standard's segment/mantissa arithmetic — anchor values
# (mu-law 0x00 -> -32124, 0xFF -> 0; A-law 0x55 -> -8, 0xAA -> 32256)
# are pinned in tests straight from the published G.711 tables.


def _g711_ulaw_table() -> np.ndarray:
    """ulaw code -> 16-bit linear. Transmitted mu-law bytes are
    bit-inverted; magnitude = (((mantissa<<3) + 0x84) << exponent)
    with the 0x84 bias removed after expansion."""
    u = ~np.arange(256, dtype=np.int32) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _g711_alaw_table() -> np.ndarray:
    """alaw code -> 16-bit linear. Transmitted A-law bytes are
    XOR-masked with 0x55 (even-bit inversion); segment 0 is linear,
    segments 1..7 double the step per segment."""
    a = np.arange(256, dtype=np.int32) ^ 0x55
    seg = (a & 0x70) >> 4
    i = (a & 0x0F) << 4
    i = np.where(
        seg == 0, i + 8,
        np.where(seg == 1, i + 0x108,
                 (i + 0x108) << np.maximum(seg - 1, 0)),
    )
    return np.where(a & 0x80, i, -i).astype(np.int16)


ULAW2LIN: np.ndarray = _g711_ulaw_table()
ALAW2LIN: np.ndarray = _g711_alaw_table()


def encode_ulaw_int(x: np.ndarray) -> np.ndarray:
    """Linear 16-bit samples -> mu-law codes (the standard segmented
    encoder: clip to 32635, add the 0x84 bias, segment = MSB position,
    4-bit mantissa, transmitted byte bit-inverted). Exact inverse of
    the expansion table: encode(ULAW2LIN[c]) == c for every code
    except the redundant negative zero 0x7F (which encodes as 0xFF) —
    pinned in tests."""
    x = np.asarray(x, dtype=np.int64)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    exp = np.zeros_like(mag)
    for k in range(1, 8):
        exp = np.where(mag >= (1 << (k + 7)), k, exp)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def encode_alaw_int(x: np.ndarray) -> np.ndarray:
    """Linear 16-bit samples -> A-law codes (segment 0 linear with
    step 16, segments 1..7 doubling; transmitted byte XOR 0x55).
    Exact inverse of the expansion table on ALL 256 codes — pinned in
    tests."""
    x = np.asarray(x, dtype=np.int64)
    sign = np.where(x >= 0, 0x80, 0)
    mag = np.minimum(np.abs(x), 32767)
    seg = np.zeros_like(mag)
    for k in range(1, 8):
        seg = np.where(mag >= (256 << (k - 1)), k, seg)
    mant = np.where(seg == 0, mag >> 4, (mag >> (seg + 3)) & 0x0F)
    return ((sign | (seg << 4) | mant) ^ 0x55).astype(np.uint8)


def decode_ulaw_int(b: bytes) -> np.ndarray:
    """mu-law bytes -> int32 linear samples (exact integer domain)."""
    return ULAW2LIN[np.frombuffer(b, dtype=np.uint8)].astype(np.int32)


def decode_alaw_int(b: bytes) -> np.ndarray:
    """A-law bytes -> int32 linear samples (exact integer domain)."""
    return ALAW2LIN[np.frombuffer(b, dtype=np.uint8)].astype(np.int32)


def _decode_ulaw(b: bytes) -> np.ndarray:
    return decode_ulaw_int(b).astype(np.float32) / 32767.0


def _decode_alaw(b: bytes) -> np.ndarray:
    return decode_alaw_int(b).astype(np.float32) / 32767.0


register_decoder("pcm_ulaw", _decode_ulaw)
register_decoder("pcm_alaw", _decode_alaw)

# bytes per encoded sample, for length/alignment/duration checks.
# Codecs not listed are 2 (PCM16 fixed width). G.711 is 1 byte/sample
# — odd payload lengths are VALID there and must not be refused.
# adpcm_ima is nibble-packed (2 samples/byte after a 4-byte header);
# width 1 here means "no alignment constraint" — the decoder itself
# validates the header.
CODEC_SAMPLE_BYTES: dict[str, int] = {
    "pcm_ulaw": 1, "pcm_alaw": 1, "adpcm_ima": 1,
    # 'wav' is a container: total length carries header + padding, so
    # no alignment precheck applies — parse_wav_header validates
    "wav": 1,
}

# Codecs whose payload length says NOTHING about sample count
# (container/variable-rate compression): the metadata-level fast
# sanity path must NOT claim them, and byte-length alignment rules do
# not apply — the decoder itself validates. When such a tag is
# ALIASED to PCM16 (fixtures), the alias wins and the fixed-width
# rules apply as before.
VARIABLE_RATE_CODECS: frozenset[str] = frozenset({"flac"})


def codec_sample_width(
    codec: str, pcm16_alias_codecs: tuple[str, ...] = ()
) -> int:
    """Effective bytes-per-sample for length/alignment pre-checks:
    aliased tags are PCM16 (2); variable-rate codecs get 1 (meaning
    'no length constraint — ask the decoder'); else the table."""
    if codec in pcm16_alias_codecs:
        return 2
    if codec in VARIABLE_RATE_CODECS:
        return 1
    return CODEC_SAMPLE_BYTES.get(codec, 2)


# ------------------------------------------------------------ IMA ADPCM
# IMA/DVI ADPCM (the WAV format-0x11 codec family): 4 bits/sample
# adaptive differential PCM. REAL stateful decompression — each nibble
# updates a (predictor, step-index) state pair via the published IMA
# step/index tables, so unlike the fixed-width codecs above the decode
# is a sequential recurrence per clip. The scale trick: the recurrence
# is sequential in TIME but independent ACROSS CLIPS, so the batch
# decoder iterates samples once while updating a whole Arrow batch of
# clips as NumPy vectors (the same across-rows vectorization as
# functions/textkernels.py).
#
# Payload framing (raw stream, the IMA block-header convention):
#   bytes 0..1  initial predictor, int16 LE
#   byte  2     initial step index (0..88)
#   byte  3     reserved (0)
#   bytes 4..   nibble stream, LOW nibble first, 2 samples/byte
#
# Tables are the published IMA ADPCM standard tables.

IMA_INDEX_TABLE = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8],
    dtype=np.int32,
)
IMA_STEP_TABLE = np.array(
    [7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
     37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
     157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
     544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
     1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
     4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
     12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
     29794, 32767],
    dtype=np.int32,
)


def adpcm_decode_batch(
    payloads: "list[bytes | None]",
) -> "list[np.ndarray | None]":
    """Decode a BATCH of IMA ADPCM payloads, vectorized across clips:
    one pass over sample index t updates [n_clips]-wide predictor /
    step-index vectors (the per-clip recurrence cannot be vectorized
    in time, but clips are independent, so the inner op width is the
    batch size, not 1). Returns int32 linear samples per clip; None
    for invalid payloads (missing/short header, step index > 88)."""
    m = len(payloads)
    lens = np.zeros(m, dtype=np.int64)
    ok = np.zeros(m, dtype=bool)
    pred = np.zeros(m, dtype=np.int32)
    idx = np.zeros(m, dtype=np.int32)
    for i, b in enumerate(payloads):
        if b is None or len(b) < 4 or b[2] > 88:
            continue
        ok[i] = True
        lens[i] = (len(b) - 4) * 2
        pred[i] = int.from_bytes(b[0:2], "little", signed=True)
        idx[i] = b[2]
    max_bytes = int(lens.max() // 2) if m else 0
    data = np.zeros((m, max_bytes), dtype=np.uint8)
    for i, b in enumerate(payloads):
        if ok[i]:
            nb = len(b) - 4
            data[i, :nb] = np.frombuffer(b, dtype=np.uint8, offset=4)
    nibs = np.zeros((m, max_bytes * 2), dtype=np.int32)
    nibs[:, 0::2] = data & 0x0F
    nibs[:, 1::2] = data >> 4
    out = np.zeros((m, max_bytes * 2), dtype=np.int32)
    for t in range(max_bytes * 2):
        nib = nibs[:, t]
        step = IMA_STEP_TABLE[idx]
        diff = (
            (step >> 3)
            + np.where(nib & 4, step, 0)
            + np.where(nib & 2, step >> 1, 0)
            + np.where(nib & 1, step >> 2, 0)
        )
        pred = np.where(nib & 8, pred - diff, pred + diff)
        pred = np.clip(pred, -32768, 32767)
        idx = np.clip(idx + IMA_INDEX_TABLE[nib], 0, 88)
        out[:, t] = pred
    return [
        out[i, : lens[i]].copy() if ok[i] else None for i in range(m)
    ]


def decode_ima_adpcm_int(b: bytes) -> np.ndarray:
    """Single-clip IMA ADPCM -> int32 linear samples (raises on an
    invalid header). Thin wrapper over the batch decoder so the
    registry surface and the batch operator CANNOT diverge."""
    (pcm,) = adpcm_decode_batch([b])
    if pcm is None:
        raise ValueError("invalid IMA ADPCM payload")
    return pcm


def _decode_adpcm(b: bytes) -> np.ndarray:
    return decode_ima_adpcm_int(b).astype(np.float32) / 32767.0


register_decoder("adpcm_ima", _decode_adpcm)


# Native FLAC (subset — see operators/flac.py): REAL lossless
# decompression for the whitelist's named codec. Registered by
# default; a PCM16-by-construction fixture payload tagged 'flac'
# fails the stream-marker check and refuses (decoded_ok=false), and
# the explicit fixture alias still overrides this entry (aliases are
# applied LAST in resolve_decoders), so both existing behaviors are
# unchanged — only genuinely-FLAC payloads now decode.
from .flac import decode_flac, decode_flac_int  # noqa: E402

register_decoder("flac", decode_flac)


def audio_sanity_fast(
    clips: DataFrame,
    dur_tolerance: float = 0.10,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> DataFrame:
    """Metadata-level audio sanity as PURE column expressions — zero
    bytes cross the JVM->Python boundary (at 100TB of audio, shipping
    payloads to Python to compute a length is the single largest
    avoidable cost; measured here: 20.5s -> sub-second on a 250MB
    fixture). Valid for fixed-width PCM (dur = len/2/sr); compressed
    codecs would fall back to the decode stage below.

    Returns (clip_id, pcm_ok, dur_actual_ms, dur_ok).

    For codec='wav' the canonical 44-byte RIFF header is subtracted
    and mono PCM16 assumed (the metadata-level approximation; rows
    where it matters — multichannel, extra chunks — belong in the
    decoding `audio_sanity` stage, whose parse_wav_header is exact)."""
    exprs = audio_sanity_exprs(dur_tolerance, pcm16_alias_codecs)
    return clips.select(
        "clip_id",
        exprs["pcm_ok"].alias("pcm_ok"),
        exprs["dur_actual_ms"].alias("dur_actual_ms"),
        exprs["dur_ok"].alias("dur_ok"),
    )


def audio_sanity_exprs(
    dur_tolerance: float = 0.10,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> dict:
    """The audio_sanity_fast COLUMN EXPRESSIONS, exposed so callers
    that cannot join (a streaming plan would need a stream-stream
    join) can compute pcm_ok/dur_ok in place on the same frame."""
    # variable-rate codecs (real FLAC) are NOT metadata-checkable —
    # payload length says nothing about sample count, so the fast
    # path refuses them and the decoding audio_sanity stage owns them
    # (unless the tag is aliased to PCM16, where fixed-width rules
    # hold as before)
    meta_checkable = [
        c for c in resolve_decoders(pcm16_alias_codecs)
        if c not in VARIABLE_RATE_CODECS or c in pcm16_alias_codecs
    ]
    known = F.col("codec").isin(*meta_checkable)
    blen0 = F.coalesce(F.length("bytes"), F.lit(0))
    blen = F.when(
        F.col("codec") == "wav", F.greatest(blen0 - 44, F.lit(0))
    ).otherwise(blen0)
    # per-codec sample count from the payload length: G.711 is 1
    # byte/sample (any length >= 1 valid), IMA ADPCM is 2 samples/byte
    # after a 4-byte header, everything else is fixed-width PCM16
    # (2 bytes/sample, even length required)
    g711 = F.col("codec").isin("pcm_ulaw", "pcm_alaw")
    adpcm = F.col("codec") == "adpcm_ima"
    nsamp = (
        F.when(adpcm, F.greatest(blen - 4, F.lit(0)) * 2)
        .when(g711, blen)
        .otherwise(F.floor(blen / 2))
    )
    pcm_ok = known & (
        F.when(adpcm, blen >= 4)
        .when(g711, blen >= 1)
        .otherwise((blen >= 2) & (blen % 2 == 0))
    )
    dur_actual = F.round(
        nsamp * 1000.0 / F.greatest(F.col("sr_hz"), F.lit(1))
    ).cast("int")
    rel = F.abs(F.col("dur_ms") - dur_actual) / F.greatest(dur_actual, F.lit(1))
    return {
        "pcm_ok": pcm_ok,
        "dur_actual_ms": dur_actual,
        "dur_ok": pcm_ok & (rel <= dur_tolerance),
    }


def audio_sanity(
    clips: DataFrame,
    dur_tolerance: float = 0.10,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> DataFrame:
    """(clip_id, pcm_ok, dur_actual_ms, dur_ok, rms, peak, n_samples).

    dur_ok: stored dur_ms within `dur_tolerance` of decoded duration.
    """
    pruned = clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec")
    decoders = resolve_decoders(pcm16_alias_codecs)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            pcm_ok = np.zeros(n, dtype=bool)
            dur_actual = np.zeros(n, dtype=np.int64)
            rms = np.zeros(n, dtype=np.float64)
            peak = np.zeros(n, dtype=np.float64)
            nsamp = np.zeros(n, dtype=np.int64)
            for i, (b, sr, codec) in enumerate(
                zip(pdf["bytes"], pdf["sr_hz"], pdf["codec"])
            ):
                dec = decoders.get(codec)
                w = codec_sample_width(codec, pcm16_alias_codecs)
                if dec is None or b is None or len(b) < w or len(b) % w:
                    continue
                try:
                    pcm = dec(b)
                except Exception:
                    continue
                pcm_ok[i] = True
                nsamp[i] = len(pcm)
                dur_actual[i] = round(len(pcm) * 1000 / max(int(sr), 1))
                rms[i] = float(np.sqrt(np.mean(pcm**2))) if len(pcm) else 0.0
                peak[i] = float(np.abs(pcm).max()) if len(pcm) else 0.0
            stored = pdf["dur_ms"].to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                rel = np.abs(stored - dur_actual) / np.maximum(dur_actual, 1)
            dur_ok = pcm_ok & (rel <= dur_tolerance)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "pcm_ok": pcm_ok,
                    "dur_actual_ms": dur_actual.astype(np.int32),
                    "dur_ok": dur_ok,
                    "rms": rms,
                    "peak": peak,
                    "n_samples": nsamp,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_SANITY_SCHEMA)


AUDIO_ENERGY_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_samples bigint, "
    "abs_energy bigint, max_abs int"
)

# codec -> bytes -> int32 linear samples, for codecs whose decode is
# EXACT integer arithmetic (PCM16 passthrough, G.711 table lookup).
# This is the oracle-checkable decode surface: a SQL twin can
# recompute these integers closed-form, which no float path allows.
_INT_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "pcm_s16le": lambda b: np.frombuffer(
        b, dtype="<i2", count=len(b) // 2
    ).astype(np.int32),
    "pcm_ulaw": decode_ulaw_int,
    "pcm_alaw": decode_alaw_int,
    "adpcm_ima": decode_ima_adpcm_int,
    "flac": decode_flac_int,
    "wav": decode_wav_int,
}


def _decode_int_batch(payloads: list, codecs: list) -> list:
    """One integer decode pass for a whole Arrow batch: the stateful
    ADPCM codec decodes across-clips in lockstep, every other codec
    through the per-clip integer registry; rows that cannot decode
    (unknown codec, NULL/short/misaligned payload, codec error) come
    back None. The single home of the integer quarantine rules —
    three operators consumed drifting copies of this block before;
    `_decode_float_batch` is its float twin and `_pcm16_frames` the
    batch framing of raw PCM16 payloads."""
    aidx = [i for i, c in enumerate(codecs) if c == "adpcm_ima"]
    adpcm = (
        dict(zip(aidx, adpcm_decode_batch([payloads[i] for i in aidx])))
        if aidx else {}
    )
    out: list = []
    for i, (b, codec) in enumerate(zip(payloads, codecs)):
        if i in adpcm:
            out.append(adpcm[i])
            continue
        dec = _INT_DECODERS.get(codec)
        w = codec_sample_width(codec)
        if dec is None or b is None or len(b) < w or len(b) % w:
            out.append(None)
            continue
        try:
            out.append(dec(b))
        except ValueError:
            out.append(None)
    return out


def _decode_float_batch(payloads, codecs, decoders: dict) -> Iterator:
    """Float twin of `_decode_int_batch` for the float feature
    operators: yields each row's float32 PCM through the per-call
    `decoders` table (resolve_decoders), or None where the row cannot
    decode (unknown codec, NULL payload, codec error). Lazy, so one
    clip's samples are alive at a time; each operator keeps its own
    minimum-length rule on what comes back."""
    for b, codec in zip(payloads, codecs):
        dec = decoders.get(codec)
        pcm = None
        if dec is not None and b is not None:
            try:
                pcm = dec(b)
            except (ValueError, IndexError):
                pass
        yield pcm


def _pcm16_frames(raw: list, frame_bytes: int, energy: bool = False) -> tuple:
    """Whole-frame PCM16 framing shared by every batch-vectorized
    PCM16 operator: NULL payloads become b'', each payload truncates
    to whole `frame_bytes` frames (a trailing partial frame and any
    odd byte drop), and the batch decodes with ONE frombuffer over the
    joined truncated payloads. Returns (trunc, nframes, owner, x) in
    row order: `owner` is each frame's row index and `x` the int64
    samples — or, with energy=True, the per-frame energies
    E_t = sum(|pcm16_i|) over frame_bytes // 2 samples. A row with
    nframes == 0 decoded nothing, and the operators refuse exactly
    those rows (audio_fingerprint keeps its own NULL rule). Derived in
    ONE place so the operators' truncation semantics cannot drift."""
    trunc = [
        b"" if b is None else bytes(b[: len(b) // frame_bytes * frame_bytes])
        for b in raw
    ]
    nframes = np.fromiter(
        (len(b) // frame_bytes for b in trunc), dtype=np.int64, count=len(trunc)
    )
    owner = np.repeat(np.arange(len(trunc)), nframes)
    x = np.frombuffer(b"".join(trunc), dtype="<i2").astype(np.int64)
    if energy:
        x = np.abs(x).reshape(-1, frame_bytes // 2).sum(axis=1)
    return trunc, nframes, owner, x


def _pack_pcm16_rows(y: np.ndarray, nsamp: np.ndarray, drop) -> list:
    """Bytes-out repack shared by the PCM16 transforms: the batch's
    output samples `y` (row-major, nsamp[r] per row) pack to int16-LE
    once and split back into per-row payloads; rows flagged in `drop`
    emit NULL."""
    packed = y.astype("<i2").tobytes()
    ends = np.cumsum(nsamp) * 2
    starts = ends - nsamp * 2
    return [None if d else packed[s:e] for d, s, e in zip(drop, starts, ends)]


def audio_codec_energy(
    clips: DataFrame, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Integer-exact per-clip energy over the DECODED linear samples
    for integer-native codecs (PCM16, G.711 mu-law/A-law):
    (clip_id, decoded_ok, n_samples, abs_energy=sum|x|, max_abs).

    Same bytes-discipline shape as audio_sanity: pruned scan ->
    mapInPandas -> small keyed output; the binary column never enters
    a shuffle. Unknown / compressed codec tags and NULL payloads
    refuse (decoded_ok=false, zero metrics) rather than guessing —
    decoding a compressed payload as raw samples yields garbage that
    LOOKS valid. Decode itself is one LUT gather / frombuffer per
    clip; sums accumulate in int64 (max |x| 32767 -> overflow needs
    ~2.8e14 samples per clip, far past any real payload).

    `passthrough` names small scalar columns carried through the
    Arrow pass unchanged (the audio_fingerprint discipline): a
    bytes-out stage composing into this re-decode can then run as ONE
    mapInPandas instead of re-aligning its own output with an
    item-keyed self-join — keep payload-sized columns out of it."""
    pruned = clips.select("clip_id", "bytes", "codec", *passthrough)
    pass_fields = [pruned.schema[c] for c in passthrough]
    out_schema = AUDIO_ENERGY_SCHEMA + "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in pass_fields
    )

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            nsamp = np.zeros(n, dtype=np.int64)
            energy = np.zeros(n, dtype=np.int64)
            mx = np.zeros(n, dtype=np.int32)
            codecs = pdf["codec"].tolist()
            payloads = pdf["bytes"].tolist()
            # batch fast path for the trivially-concatenable integer
            # codecs (guide §4.2): ONE frombuffer/LUT gather + ONE
            # np.add/maximum.reduceat over the joined buffer replaces
            # four NumPy calls per row. Alignment/NULL refusal rules
            # are _decode_int_batch's, verbatim; everything else
            # (adpcm lockstep, wav/flac header parse, unknown codecs)
            # falls through to the original per-row path below.
            fast: dict[str, list[int]] = {
                "pcm_s16le": [], "pcm_ulaw": [], "pcm_alaw": [],
            }
            slow_idx: list[int] = []
            for i, (b, c) in enumerate(zip(payloads, codecs)):
                lst = fast.get(c)
                if lst is None:
                    slow_idx.append(i)
                    continue
                w = 2 if c == "pcm_s16le" else 1
                if b is None or len(b) < w or len(b) % w:
                    continue  # refuse: ok stays False, metrics zero
                lst.append(i)
            for c, idxs in fast.items():
                if not idxs:
                    continue
                blob = b"".join(payloads[i] for i in idxs)
                if c == "pcm_s16le":
                    x = np.abs(np.frombuffer(blob, dtype="<i2").astype(np.int64))
                    lens = np.fromiter(
                        (len(payloads[i]) >> 1 for i in idxs),
                        dtype=np.int64, count=len(idxs),
                    )
                else:
                    lut = ULAW2LIN if c == "pcm_ulaw" else ALAW2LIN
                    x = np.abs(
                        lut[np.frombuffer(blob, dtype=np.uint8)].astype(np.int64)
                    )
                    lens = np.fromiter(
                        (len(payloads[i]) for i in idxs),
                        dtype=np.int64, count=len(idxs),
                    )
                starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
                ii = np.asarray(idxs)
                ok[ii] = True
                nsamp[ii] = lens
                energy[ii] = np.add.reduceat(x, starts)
                mx[ii] = np.maximum.reduceat(x, starts)
            if slow_idx:
                # unit of work is the unique (codec, payload) — the
                # bpe_encode unique-word-memo discipline applied to
                # decode: duplicated payloads (exact-dup corpora, or
                # synthesized fixtures) decode once per batch, and the
                # expensive decoders (flac bitstream, wav parse) are
                # exactly the ones that benefit
                memo: dict = {}
                u_payloads: list = []
                u_codecs: list = []
                order: list[int] = []
                for i in slow_idx:
                    kk = (codecs[i], payloads[i])
                    j = memo.get(kk)
                    if j is None:
                        j = memo[kk] = len(u_payloads)
                        u_payloads.append(payloads[i])
                        u_codecs.append(codecs[i])
                    order.append(j)
                stats: list = []
                for pcm in _decode_int_batch(u_payloads, u_codecs):
                    if pcm is None:
                        stats.append(None)
                    else:
                        a = np.abs(pcm, dtype=np.int64)
                        stats.append((
                            len(pcm),
                            int(a.sum()),
                            int(a.max()) if len(a) else 0,
                        ))
                for i, j in zip(slow_idx, order):
                    s = stats[j]
                    if s is None:
                        continue
                    ok[i] = True
                    nsamp[i], energy[i], mx[i] = s
            cols = {
                "clip_id": pdf["clip_id"],
                "decoded_ok": ok,
                "n_samples": nsamp,
                "abs_energy": energy,
                "max_abs": mx,
            }
            for c in passthrough:
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    return pruned.mapInPandas(_op, schema=out_schema)


# target codec -> int32 linear samples -> bytes. Only integer-exact
# targets (transcoding INTO a lossy-float codec would need a rate
# model; these three cover corpus normalization either direction:
# compress to 1 byte/sample telephony G.711, or expand to PCM16).
_INT_ENCODERS: dict[str, Callable[[np.ndarray], bytes]] = {
    "pcm_s16le": lambda x: np.clip(x, -32768, 32767)
    .astype("<i2").tobytes(),
    "pcm_ulaw": lambda x: encode_ulaw_int(x).tobytes(),
    "pcm_alaw": lambda x: encode_alaw_int(x).tobytes(),
}

AUDIO_TRANSCODE_SCHEMA = (
    "clip_id string, bytes binary, codec string, n_samples bigint"
)


def audio_transcode(
    clips: DataFrame, to_codec: str, allow_lossy: bool = False
) -> DataFrame:
    """Re-encode every decodable clip to `to_codec` (pcm_s16le /
    pcm_ulaw / pcm_alaw; with allow_lossy=True also adpcm_ima, 4:1):
    decode through the integer-exact registry, encode with the
    standard segmented G.711 encoders (or PCM16 clip-and-pack, or the
    batch-lockstep IMA quantizer). Corpus normalization for
    mixed-codec tables — bytes stay within the partition (narrow
    plan: pruned scan -> mapInPandas -> sink; no shuffle ever sees a
    payload). Undecodable rows pass through with NULL bytes and codec
    unchanged, so a downstream writer can route refusals to a
    quarantine path. ADPCM is LOSSY (SNR-grade round-trip, not
    bit-equality) and therefore a loud opt-in — an exactness-assuming
    caller must not get a lossy codec by typo."""
    if to_codec == "adpcm_ima":
        if not allow_lossy:
            raise ValueError(
                "adpcm_ima is LOSSY — pass allow_lossy=True to opt in"
            )
        enc = None  # batch path below
    elif to_codec not in _INT_ENCODERS:
        raise ValueError(f"no integer encoder for codec {to_codec!r}")
    else:
        enc = _INT_ENCODERS[to_codec]
    pruned = clips.select("clip_id", "bytes", "codec")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codecs = pdf["codec"].tolist()
            payloads = pdf["bytes"].tolist()
            out_bytes: list[bytes | None] = []
            out_codec: list[str] = []
            nsamp = np.zeros(len(pdf), dtype=np.int64)
            for i, pcm in enumerate(_decode_int_batch(payloads, codecs)):
                codec = codecs[i]
                if pcm is None:
                    out_bytes.append(None)
                    out_codec.append(codec)
                elif enc is None:
                    # adpcm target: collect for the batch-lockstep
                    # encoder after the decode loop; the encoder
                    # truncates odd lengths to even (nibbles pack two
                    # per byte), so report the EVEN count — n_samples
                    # must equal what the payload decodes back to
                    out_bytes.append(pcm)  # placeholder, replaced below
                    out_codec.append(to_codec)
                    nsamp[i] = (len(pcm) // 2) * 2
                else:
                    # placeholder; the elementwise G.711/PCM encoders
                    # run ONCE over the batch concatenation below
                    # (guide §4.2) — identical codes, no per-row call
                    out_bytes.append(pcm)
                    out_codec.append(to_codec)
                    nsamp[i] = len(pcm)
            if enc is not None:
                todo = [
                    j for j, v in enumerate(out_bytes)
                    if v is not None and not isinstance(v, bytes)
                ]
                if todo:
                    arrs = [out_bytes[j] for j in todo]
                    lens = np.fromiter(
                        (len(a) for a in arrs), dtype=np.int64,
                        count=len(arrs),
                    )
                    if to_codec == "pcm_s16le":
                        flat = (
                            np.clip(np.concatenate(arrs), -32768, 32767)
                            .astype("<i2")
                        )
                        width = 2
                    else:
                        ef = (
                            encode_ulaw_int if to_codec == "pcm_ulaw"
                            else encode_alaw_int
                        )
                        flat = ef(np.concatenate(arrs))
                        width = 1
                    blob = flat.tobytes()
                    offs = np.concatenate(([0], np.cumsum(lens))) * width
                    for k, j in enumerate(todo):
                        out_bytes[j] = blob[offs[k]: offs[k + 1]]
            if enc is None:
                todo = [
                    j for j, v in enumerate(out_bytes)
                    if v is not None and not isinstance(v, bytes)
                ]
                encoded = adpcm_encode_batch([out_bytes[j] for j in todo])
                for j, eb in zip(todo, encoded):
                    out_bytes[j] = eb
                    if eb is None:  # unencodable (<2 samples)
                        out_codec[j] = codecs[j]
                        nsamp[j] = 0
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "bytes": out_bytes,
                    "codec": out_codec,
                    "n_samples": nsamp,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_TRANSCODE_SCHEMA)


def audio_chunk(
    clips: DataFrame,
    chunk_ms: int,
    overlap_ms: int = 0,
    min_ms: int = 0,
) -> DataFrame:
    """Segment fixed-width-codec clips (PCM16 / G.711) into
    fixed-duration training windows — the audio analog of
    operators/chunking.chunk_documents. ENTIRELY JVM column
    expressions: window starts via sequence() + explode, payload
    slices via substring() on the binary column, so the hot path is
    whole-stage-codegen with zero Python and the only data movement
    is the final write (no shuffle is introduced; bytes stay in the
    partition that scanned them).

    Windows step by (chunk_ms - overlap_ms); the last window may be
    shorter (never padded) and is dropped if under `min_ms`. Sample
    math is exact integer arithmetic on the per-codec sample width:
    a window covers samples [start, start+len) with byte offsets
    start*width — nibble-packed or variable-rate codecs (ADPCM, FLAC)
    are stateful across the stream and cannot be sliced at byte
    boundaries; their rows are passed through as a single NULL-chunk
    row (chunk_id -1) so a caller can route them to a decode-first
    path. Returns (clip_id, chunk_id, start_ms, dur_ms, n_samples,
    bytes, codec)."""
    if chunk_ms <= 0 or overlap_ms < 0 or overlap_ms >= chunk_ms:
        raise ValueError("need 0 <= overlap_ms < chunk_ms")
    g711 = F.col("codec").isin("pcm_ulaw", "pcm_alaw")
    fixed = g711 | F.col("codec").isin("pcm_s16le")
    width = F.when(g711, F.lit(1)).otherwise(F.lit(2))
    sr = F.greatest(F.col("sr_hz"), F.lit(1))
    blen = F.coalesce(F.length("bytes"), F.lit(0))
    nsamp = F.floor(blen / width).cast("long")
    # exact integer sample counts per window/step (floor: a chunk
    # never reads past the payload)
    csamp = F.floor(sr * chunk_ms / 1000).cast("long")
    step = F.floor(sr * (chunk_ms - overlap_ms) / 1000).cast("long")
    minsamp = F.floor(sr * min_ms / 1000).cast("long")
    # a clip shorter than one chunk still yields its single (short)
    # window — greatest(1, ...) guards the negative-ceil case
    nchunks = F.when(nsamp <= 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1).cast("long"), F.ceil((nsamp - csamp) / step) + 1)
    )
    ok = fixed & (blen > 0) & (blen % width == 0)
    idx = F.when(ok, F.sequence(F.lit(0), nchunks.cast("int") - 1)).otherwise(
        F.array(F.lit(-1))
    )
    e = clips.select(
        "clip_id", "bytes", "sr_hz", "codec",
        F.explode(idx).alias("chunk_id"),
        width.alias("_w"), nsamp.alias("_n"), csamp.alias("_c"),
        step.alias("_s"), minsamp.alias("_m"),
    )
    start = F.col("chunk_id").cast("long") * F.col("_s")
    clen = F.least(F.col("_c"), F.col("_n") - start)
    out = e.where(
        (F.col("chunk_id") == -1) | (clen >= F.greatest(F.col("_m"), F.lit(1)))
    ).select(
        "clip_id",
        "chunk_id",
        F.when(F.col("chunk_id") >= 0,
               F.floor(start * 1000 / F.greatest(F.col("sr_hz"), F.lit(1)))
               .cast("int")).alias("start_ms"),
        F.when(F.col("chunk_id") >= 0,
               F.floor(clen * 1000 / F.greatest(F.col("sr_hz"), F.lit(1)))
               .cast("int")).alias("dur_ms"),
        F.when(F.col("chunk_id") >= 0, clen).alias("n_samples"),
        F.when(
            F.col("chunk_id") >= 0,
            F.expr("substring(bytes, cast(chunk_id as bigint) * _s * _w + 1, "
                   "cast(least(_c, _n - cast(chunk_id as bigint) * _s) * _w "
                   "as int))"),
        ).alias("bytes"),
        "codec",
    )
    return out


AUDIO_FEATURES_SCHEMA = (
    "clip_id string, decoded_ok boolean, zcr double, silence_ratio double, "
    "clipping_ratio double, snr_db_est double"
)


def audio_features(
    clips: DataFrame,
    frame_ms: int = 25,
    silence_rms: float = 0.01,
    clip_level: float = 0.999,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> DataFrame:
    """Per-clip audio quality features for keep/drop rules — the audio
    analog of the transcript quality heuristics (same Spark shape as
    audio_sanity: pruned scan -> mapInPandas -> small keyed output;
    bytes never shuffle).

      zcr             zero-crossing rate (crossings per sample) —
                      noise/static detector
      silence_ratio   fraction of frame_ms frames with RMS below
                      silence_rms — dead-air detector
      clipping_ratio  fraction of samples at |x| >= clip_level —
                      clipped-recording detector
      snr_db_est      20*log10(p90 frame RMS / p10 frame RMS) — crude
                      signal-vs-noise-floor spread, no VAD needed

    All NumPy-vectorized per clip; frames via a truncating reshape."""
    pruned = clips.select("clip_id", "bytes", "sr_hz", "codec")
    decoders = resolve_decoders(pcm16_alias_codecs)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            zcr = np.zeros(n, dtype=np.float64)
            sil = np.zeros(n, dtype=np.float64)
            clp = np.zeros(n, dtype=np.float64)
            snr = np.zeros(n, dtype=np.float64)
            pcms = _decode_float_batch(pdf["bytes"], pdf["codec"], decoders)
            for i, (pcm, sr) in enumerate(zip(pcms, pdf["sr_hz"])):
                if pcm is None or len(pcm) < 2:
                    continue
                ok[i] = True
                zcr[i] = float(np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1])))
                clp[i] = float(np.mean(np.abs(pcm) >= clip_level))
                flen = max(int(max(int(sr), 1) * frame_ms / 1000), 1)
                nf = len(pcm) // flen
                if nf >= 1:
                    frames = pcm[: nf * flen].reshape(nf, flen)
                    frms = np.sqrt(np.mean(frames * frames, axis=1))
                    sil[i] = float(np.mean(frms < silence_rms))
                    p90 = float(np.percentile(frms, 90))
                    p10 = float(np.percentile(frms, 10))
                    snr[i] = 20.0 * np.log10(max(p90, 1e-9) / max(p10, 1e-9))
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": ok,
                    "zcr": zcr,
                    "silence_ratio": sil,
                    "clipping_ratio": clp,
                    "snr_db_est": snr,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_FEATURES_SCHEMA)


AUDIO_FP_SCHEMA = "clip_id string, fp bigint, n_frames int"


def audio_fingerprint(
    clips: DataFrame,
    frame_samples: int = 8,
    max_bits: int = 60,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Energy-delta acoustic fingerprint (simplified Haitsma-Kalker
    sign-of-band-energy-difference scheme, collapsed to one band) —
    the audio analog of the text fingerprints in functions/text.py.

      frame t energy  E_t = sum(|pcm16_i|) over frame t  (int64 exact)
      bit t           1 iff E_t > E_{t-1}
      fp              bits packed little-endian, capped at `max_bits`

    INTEGER-EXACT by construction (abs-sums of int16 samples, integer
    compares, integer bit-pack), so the same fingerprint is computable
    in any engine — the contract query's DuckDB oracle recomputes it
    from the closed-form synthesis and hash-matches.

    Spark shape is the bytes-column discipline shared by every audio
    stage (module docstring): pruned scan -> mapInPandas -> small
    (clip_id, fp) keyed output; bytes never shuffle. Near-duplicate
    detection then joins/groups on `fp` (ids only). The kernel is
    batch-vectorized: one frombuffer over the concatenated batch, one
    np.add.at segmented frame reduce, one vectorized bit-pack — no
    per-row Python in the per-sample work.

    Rows whose payload is NULL/empty get fp NULL; clips with fewer
    than 2 whole frames get fp 0 (no deltas).

    `passthrough` names small scalar columns to carry through the
    Arrow pass unchanged (e.g. a transcript hash for the cross-modal
    consistency operator) — the alternative, joining them back on
    clip_id afterwards, is a second scan plus an item-keyed shuffle
    at 10^12 rows. Keep payload-sized columns out of it.
    """
    pruned = clips.select("clip_id", "bytes", *passthrough)
    pass_fields = [pruned.schema[c] for c in passthrough]
    out_schema = AUDIO_FP_SCHEMA + "".join(
        f", {f.name} {f.dataType.simpleString()}" for f in pass_fields
    )

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = list(pdf["bytes"])
            # NULL rule is on the raw payload, not on whole frames: a
            # payload of >= 2 bytes with no whole frame gets fp 0
            isnull = [b is None or len(b) < 2 for b in raw]
            _, nframes, owner, energy = _pcm16_frames(
                raw, 2 * frame_samples, energy=True
            )
            # vectorized delta-bit pack: local frame p >= 1 contributes
            # (E_p > E_{p-1}) << (p - 1), capped at max_bits bits
            local = _concat_aranges(nframes)
            rising = np.zeros(len(energy), dtype=bool)
            rising[1:] = energy[1:] > energy[:-1]
            sel = (local >= 1) & (local <= max_bits) & rising
            fp = np.zeros(len(pdf), dtype=np.int64)
            np.add.at(fp, owner[sel], np.int64(1) << (local[sel] - 1))
            cols = {
                "clip_id": pdf["clip_id"],
                "fp": pd.array(
                    [None if nu else int(v) for nu, v in zip(isnull, fp)],
                    dtype="Int64",
                ),
                "n_frames": nframes.astype(np.int32),
            }
            for c in passthrough:
                cols[c] = pdf[c]
            yield pd.DataFrame(cols)

    return pruned.mapInPandas(_op, schema=out_schema)


def _concat_aranges(lengths: np.ndarray) -> np.ndarray:
    """[arange(l) for l in lengths] concatenated, without a Python
    loop: global arange minus each element's segment start."""
    total = int(lengths.sum())
    starts = np.concatenate(([0], np.cumsum(lengths)))[:-1]
    return np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)


def audio_neardup_pairs(
    clips: DataFrame,
    frame_samples: int = 8,
    max_bits: int = 60,
    max_dist: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate audio pairs by fingerprint Hamming distance —
    small perturbations (re-encode jitter, level changes on a few
    samples) flip at most a few energy-delta bits, so near-dups sit
    within a small Hamming radius of each other while unrelated clips
    are ~30 bits apart.

    Pure composition: `audio_fingerprint` (bytes cross the wire once,
    per-clip int64 out) feeding the generic pigeonhole banding of
    `dedup.simhash_banded_pairs` — (max_dist+1) bands over the fp,
    per-band bucket equi-join on ids only, exact one-expression
    bit_count(xor) verify, optional `max_bucket` hot-bucket cap. The
    whole candidate/verify stage is JVM column arithmetic; nothing
    row-wise touches Python after the decode.

    Output: (id_a, id_b, hamming), id_a < id_b, hamming <= max_dist.
    NULL-fingerprint clips (empty payloads) can't pair and are
    dropped."""
    from .dedup import simhash_banded_pairs

    fp = audio_fingerprint(clips, frame_samples=frame_samples,
                           max_bits=max_bits)
    sig = fp.where(F.col("fp").isNotNull()).select(
        F.col("clip_id").alias("id"), F.col("fp").alias("simhash")
    )
    return simhash_banded_pairs(
        sig, max_dist=max_dist, bits=max_bits, max_bucket=max_bucket
    )


def decode_pcm(
    clips: DataFrame, pcm16_alias_codecs: tuple[str, ...] = ()
) -> DataFrame:
    """(clip_id, pcm array<float>) — test/oracle helper; NOT for the
    10^12-row path (materializes full PCM). Unregistered codecs yield
    an empty pcm array (refuse, same policy as the feature stages)."""
    decoders = resolve_decoders(pcm16_alias_codecs)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b, codec in zip(pdf["bytes"], pdf["codec"]):
                dec = decoders.get(codec)
                try:
                    out.append(dec(b).tolist() if (b and dec) else [])
                except Exception:
                    out.append([])
            yield pd.DataFrame({"clip_id": pdf["clip_id"], "pcm": out})

    return clips.select("clip_id", "bytes", "codec").mapInPandas(
        _op, schema="clip_id string, pcm array<float>"
    )


AUDIO_TONE_PROBE_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_samples int, "
    "corr_c bigint, corr_s bigint, is_tonal boolean"
)


def audio_tone_probe(
    clips: DataFrame,
    cos_table: tuple[int, ...] = (1000, 707, 0, -707, -1000, -707, 0, 707),
    sin_table: tuple[int, ...] = (0, 707, 1000, 707, 0, -707, -1000, -707),
    tonal_threshold_milli: int = 6000,
) -> DataFrame:
    """Single-bin INTEGER tone probe over raw PCM16 — the exact-oracle
    member of the spectral family (audio_spectral_features' rFFT stats
    are float DSP and stay pytest-verified, NOTES.md #45; this probe
    is the cross-engine-checkable projection of the same question).

    Correlates each clip against one integer cosine/sine pair of
    period P = len(cos_table), i.e. a one-bin DFT with the basis
    quantized to integers (round(1000*cos), the LSH quantized-plane
    trick applied to a Fourier basis):

      corr_c = sum_i pcm16_i * cos_table[i mod P]   (int64 exact)
      corr_s = sum_i pcm16_i * sin_table[i mod P]
      is_tonal = (|corr_c| + |corr_s|) > threshold_milli * n

    Use: probing a frequency ABOVE a suspected true bandwidth detects
    upsampled / band-limited content (e.g. 8 kHz telephone audio
    re-tagged 16 kHz has ~no energy at the probe bin — is_tonal false
    where genuine wideband speech trips it), and probing mains hum
    bins (50/60 Hz aliases) flags hum-contaminated recordings.

    Everything is integer arithmetic on both sides, so a DuckDB oracle
    re-derives the identical values from closed-form synthesized
    payloads (contract query q_audio_tone_probe). The per-clip sums
    are accumulated via np.bincount float64 weights: every addend is
    an integer with |pcm*coef| <= 32767*max|table|, so sums stay EXACT
    below 2^53 — clips up to ~2.7e9 samples (> 24h at 16 kHz) at the
    default table scale; far beyond any real clip.

    Spark shape: the standard bytes-column discipline (pruned scan ->
    mapInPandas -> small keyed output; bytes never shuffle), kernel
    batch-vectorized — one frombuffer over the concatenated batch, one
    modular gather, two bincount segment-reduces; no per-row Python in
    the per-sample work. Odd trailing bytes truncate (PCM16
    alignment); NULL/empty payloads report decoded_ok=false.
    """
    period = len(cos_table)
    if len(sin_table) != period or period == 0:
        raise ValueError("cos_table and sin_table must share a nonzero length")
    ctab = np.asarray(cos_table, dtype=np.int64)
    stab = np.asarray(sin_table, dtype=np.int64)
    thr = int(tonal_threshold_milli)
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nrows = len(pdf)
            _, nsamp, owner, pcm = _pcm16_frames(list(pdf["bytes"]), 2)
            idx = _concat_aranges(nsamp) % period
            cc = np.bincount(
                owner, weights=(pcm * ctab[idx]).astype(np.float64),
                minlength=nrows,
            ).astype(np.int64)
            ss = np.bincount(
                owner, weights=(pcm * stab[idx]).astype(np.float64),
                minlength=nrows,
            ).astype(np.int64)
            # a refused row (nsamp == 0) sums to 0 and is never tonal
            tonal = (np.abs(cc) + np.abs(ss)) > thr * nsamp
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": nsamp > 0,
                    "n_samples": nsamp.astype(np.int32),
                    "corr_c": cc,
                    "corr_s": ss,
                    "is_tonal": tonal,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_TONE_PROBE_SCHEMA)


AUDIO_SPECTRAL_SCHEMA = (
    "clip_id string, decoded_ok boolean, centroid_hz double, "
    "bandwidth_hz double, rolloff_hz double, flatness double"
)


def audio_spectral_features(
    clips: DataFrame,
    rolloff_frac: float = 0.85,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> DataFrame:
    """Per-clip spectral shape features via one rFFT per clip — the
    frequency-domain complement to audio_features' time-domain set
    (same Spark shape: pruned scan -> mapInPandas -> small keyed
    output; bytes never shuffle, one Arrow batch in, one out).

      centroid_hz    power-weighted mean frequency — dull vs bright
      bandwidth_hz   sqrt(power-weighted variance around centroid)
      rolloff_hz     frequency below which rolloff_frac of the power
                     lies — band-limit / low-bitrate-transcode detector
      flatness       geometric/arithmetic mean of the power spectrum
                     (Wiener entropy, 0=tonal .. 1=white noise) —
                     static/hum detector

    DC is excluded from every statistic (a constant offset says
    nothing about spectral shape). Silent or undecodable clips report
    decoded_ok with zeroed features. NumPy-vectorized per clip; no
    SciPy dependency (np.fft.rfft only).
    """
    pruned = clips.select("clip_id", "bytes", "sr_hz", "codec")
    decoders = resolve_decoders(pcm16_alias_codecs)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            cen = np.zeros(n, dtype=np.float64)
            bwi = np.zeros(n, dtype=np.float64)
            rof = np.zeros(n, dtype=np.float64)
            fla = np.zeros(n, dtype=np.float64)
            pcms = _decode_float_batch(pdf["bytes"], pdf["codec"], decoders)
            for i, (pcm, sr) in enumerate(zip(pcms, pdf["sr_hz"])):
                if pcm is None or len(pcm) < 4:
                    continue
                ok[i] = True
                spec = np.abs(np.fft.rfft(pcm.astype(np.float64))) ** 2
                power = spec[1:]  # exclude DC
                total = float(power.sum())
                if total <= 0.0:
                    continue  # silence: ok, zeroed features
                freqs = np.fft.rfftfreq(len(pcm), d=1.0 / max(int(sr), 1))[1:]
                p = power / total
                c = float(np.dot(p, freqs))
                cen[i] = c
                bwi[i] = float(np.sqrt(np.dot(p, (freqs - c) ** 2)))
                cum = np.cumsum(p)
                # float-sum error can leave cum[-1] just under the
                # target for rolloff_frac ~ 1.0; clamp to the last bin
                ridx = min(int(np.searchsorted(cum, rolloff_frac)), len(freqs) - 1)
                rof[i] = float(freqs[ridx])
                # flatness on the normalized spectrum (scale-free)
                fla[i] = float(
                    np.exp(np.mean(np.log(np.maximum(p, 1e-300))))
                    / np.mean(p)
                )
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": ok,
                    "centroid_hz": cen,
                    "bandwidth_hz": bwi,
                    "rolloff_hz": rof,
                    "flatness": fla,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_SPECTRAL_SCHEMA)


AUDIO_LOUDNESS_SCHEMA = (
    "clip_id string, decoded_ok boolean, peak_dbfs double, rms_dbfs double, "
    "dc_offset double"
)


def audio_loudness(
    clips: DataFrame, pcm16_alias_codecs: tuple[str, ...] = ()
) -> DataFrame:
    """Loudness metering per clip: peak and RMS in dBFS (0 dBFS =
    full-scale |x| = 1.0) plus the DC offset — the three numbers a
    normalization / re-leveling stage needs before training-audio
    ingestion. Same pruned-scan mapInPandas shape as the other audio
    operators; digital silence reports -120 dBFS floors rather than
    -inf so downstream aggregates stay finite."""
    pruned = clips.select("clip_id", "bytes", "sr_hz", "codec")
    floor_db = -120.0
    decoders = resolve_decoders(pcm16_alias_codecs)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            peak = np.full(n, floor_db)
            rms = np.full(n, floor_db)
            dc = np.zeros(n, dtype=np.float64)
            pcms = _decode_float_batch(pdf["bytes"], pdf["codec"], decoders)
            for i, pcm in enumerate(pcms):
                if pcm is None or len(pcm) == 0:
                    continue
                ok[i] = True
                p = float(np.max(np.abs(pcm)))
                r = float(np.sqrt(np.mean(pcm * pcm)))
                peak[i] = 20.0 * np.log10(p) if p > 0 else floor_db
                rms[i] = 20.0 * np.log10(r) if r > 0 else floor_db
                dc[i] = float(np.mean(pcm))
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": ok,
                    "peak_dbfs": peak,
                    "rms_dbfs": rms,
                    "dc_offset": dc,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_LOUDNESS_SCHEMA)


AUDIO_RESAMPLE_SCHEMA = (
    "clip_id string, decoded_ok boolean, sr_hz int, n_samples int, bytes binary"
)


def audio_resample(
    clips: DataFrame,
    target_sr: int = 16000,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> DataFrame:
    """Linear-interpolation sample-rate conversion to target_sr,
    re-encoded as int16 PCM bytes — the standard ingest normalization
    before a feature/ASR stage expects one rate. Output sample k sits
    at source position k * sr_src / sr_dst; values are np.interp's
    piecewise-linear reconstruction (exactly reproducible, no
    windowed-sinc dependency — swap the kernel for scipy.resample_poly
    where quality matters more than portability; docstring contract,
    not plumbing, changes). Clips already at target_sr pass through
    byte-identical. bytes stay inside the partition end-to-end."""
    pruned = clips.select("clip_id", "bytes", "sr_hz", "codec")
    decoders = resolve_decoders(pcm16_alias_codecs)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            ns = np.zeros(n, dtype=np.int32)
            out_bytes: list[bytes | None] = [None] * n
            pcms = _decode_float_batch(pdf["bytes"], pdf["codec"], decoders)
            for i, (pcm, sr) in enumerate(zip(pcms, pdf["sr_hz"])):
                if pcm is None or len(pcm) == 0:
                    continue
                ok[i] = True
                sr = max(int(sr), 1)
                if sr == target_sr:
                    res = pcm
                else:
                    m = int(round(len(pcm) * target_sr / sr))
                    pos = np.arange(m, dtype=np.float64) * (sr / target_sr)
                    res = np.interp(pos, np.arange(len(pcm)), pcm)
                ns[i] = len(res)
                # inverse of _decode_pcm16's /32767 scaling, so a
                # clip already at target_sr round-trips byte-identical
                out_bytes[i] = (
                    np.clip(np.rint(res * 32767.0), -32768, 32767)
                    .astype(np.int16)
                    .tobytes()
                )
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": ok,
                    "sr_hz": np.full(n, target_sr, dtype=np.int32),
                    "n_samples": ns,
                    "bytes": out_bytes,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_RESAMPLE_SCHEMA)


AUDIO_VAD_SCHEMA = (
    "clip_id string, seg_id int, start_frame int, end_frame int, "
    "n_frames int, voiced_frames int, energy_sum bigint"
)


def _vad_spans(
    nframes: np.ndarray,
    owner: np.ndarray,
    energy: np.ndarray,
    energy_threshold: int,
    max_gap_frames: int,
    min_frames: int,
) -> tuple:
    """Batch-vectorized VAD span kernel shared by `audio_vad_segments`
    (stats-only rows) and `audio_segment_extract` (bytes-out rows),
    over the per-frame energies of `_pcm16_frames(..., energy=True)`
    — one framing for both, so their stats columns are bit-equal by
    construction: voiced-run islands (never crossing a clip edge),
    silence-gap bridging, min-length filtering, and per-clip 0-based
    seg ids.

    Returns per-KEPT-segment arrays
      (owner_row, seg_id, start_frame, end_frame, n_frames,
       voiced_frames, energy_sum)
    with frame indices LOCAL to the owning clip; all arrays empty when
    nothing survives. Flat NumPy passes only (reduceat over run
    boundaries, prefix-sum range queries) — no per-row Python in
    per-frame work.
    """
    nrows = len(nframes)
    total = len(energy)
    empty = np.zeros(0, dtype=np.int64)
    if not total:
        return (empty,) * 7
    voiced = energy >= energy_threshold
    # voiced-run boundaries, never crossing a clip edge
    prev_same = np.zeros(total, dtype=bool)
    prev_same[1:] = owner[1:] == owner[:-1]
    prev_v = np.zeros(total, dtype=bool)
    prev_v[1:] = voiced[:-1]
    starts = np.flatnonzero(voiced & ~(prev_v & prev_same))
    next_same = np.zeros(total, dtype=bool)
    next_same[:-1] = prev_same[1:]
    next_v = np.zeros(total, dtype=bool)
    next_v[:-1] = voiced[1:]
    ends = np.flatnonzero(voiced & ~(next_v & next_same))
    if not len(starts):
        return (empty,) * 7
    # bridge: island i merges into i-1 iff same clip and the silence
    # gap between them is <= max_gap_frames
    brk = np.ones(len(starts), dtype=np.int64)
    brk[1:] = ~(
        (owner[starts[1:]] == owner[ends[:-1]])
        & (starts[1:] - ends[:-1] - 1 <= max_gap_frames)
    )
    bidx = np.flatnonzero(brk)  # first island per merged group
    gstart = starts[bidx]
    glast = ends[np.concatenate((bidx[1:] - 1, [len(ends) - 1]))]
    span = glast - gstart + 1
    vf = np.add.reduceat(ends - starts + 1, bidx)
    # span energy: prefix-sum range query over E
    csum = np.concatenate(([0], np.cumsum(energy, dtype=np.int64)))
    esum = csum[glast + 1] - csum[gstart]
    keep = span >= min_frames
    gown = owner[gstart]
    # frame index local to the clip
    fstarts = np.concatenate(([0], np.cumsum(nframes)))[:-1]
    kown = gown[keep]
    # 0-based per-clip seg ids over KEPT groups (groups are
    # time-ordered within a clip by construction)
    seg_local = _concat_aranges(np.bincount(kown, minlength=nrows))
    return (
        kown,
        seg_local,
        (gstart - fstarts[gown])[keep],
        (glast - fstarts[gown])[keep],
        span[keep],
        vf[keep],
        esum[keep],
    )


def audio_vad_segments(
    clips: DataFrame,
    frame_samples: int = 160,
    energy_threshold: int = 160 * 50,
    max_gap_frames: int = 0,
    min_frames: int = 1,
) -> DataFrame:
    """Energy-based voice-activity segmentation — the speech/silence
    splitter a quality-filter pipeline runs before per-utterance
    scoring (trim leading/trailing silence, drop dead air, emit one
    row per speech segment for downstream chunking).

      frame t energy   E_t = sum(|pcm16_i|) over frame t  (int64 exact)
      voiced           E_t >= energy_threshold
      segment          maximal voiced run, where silence gaps of
                       <= max_gap_frames frames are BRIDGED (a plosive
                       pause doesn't split an utterance); merged spans
                       shorter than min_frames frames drop (clicks)

    INTEGER-EXACT like `audio_fingerprint` above (abs-sums of int16,
    integer compares), so a SQL engine can recompute identical
    segments from a closed-form synthesis — the contract query's
    DuckDB oracle replays the same gaps-and-islands over the same
    frame energies and hash-matches.

    Output: one row per kept segment; `n_frames` is the merged span
    (end_frame - start_frame + 1, bridged silence included),
    `voiced_frames` counts only frames over threshold, `energy_sum`
    sums E_t over the whole span. Clips with NULL/short payloads or
    no voiced frames emit no rows. seg_id is 0-based in time order
    per clip.

    Spark shape: the same bytes-column discipline as every audio
    stage (pruned scan -> mapInPandas -> small keyed output; bytes
    never shuffle). The kernel is batch-vectorized: one frombuffer
    over the concatenated batch, one reshape frame reduce, and
    run/merge/filter as flat NumPy array passes (reduceat over run
    boundaries) — no per-row Python in the per-sample or per-frame
    work. Parallelism = input partitions: at scale the upstream scan
    is already many-partitioned; small synthesized inputs must
    repartition first (NOTES.md #22).
    """
    if frame_samples < 1 or min_frames < 1 or max_gap_frames < 0:
        raise ValueError("frame_samples/min_frames >= 1, max_gap_frames >= 0")
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            _, nframes, owner, energy = _pcm16_frames(
                list(pdf["bytes"]), 2 * frame_samples, energy=True
            )
            kown, seg, s, z, span, vf, esum = _vad_spans(
                nframes, owner, energy, energy_threshold, max_gap_frames,
                min_frames,
            )
            cid = pdf["clip_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "clip_id": cid[kown],
                    "seg_id": seg.astype(np.int32),
                    "start_frame": s.astype(np.int32),
                    "end_frame": z.astype(np.int32),
                    "n_frames": span.astype(np.int32),
                    "voiced_frames": vf.astype(np.int32),
                    "energy_sum": esum,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_VAD_SCHEMA)


AUDIO_SEGMENT_SCHEMA = AUDIO_VAD_SCHEMA + ", bytes binary"


def audio_segment_extract(
    clips: DataFrame,
    frame_samples: int = 160,
    energy_threshold: int = 160 * 50,
    max_gap_frames: int = 0,
    min_frames: int = 1,
) -> DataFrame:
    """Utterance extraction — `audio_vad_segments` composed with the
    segment BYTES: one output row per kept speech segment carrying the
    whole-frame slice [start_frame, end_frame] of the original PCM16
    payload (bridged interior silence included), ready for
    per-utterance scoring / chunk packing downstream. This is the
    long-clip splitter an ASR-style training pipeline runs between
    ingest and featurization (the reference scores whole items;
    utterance splitting is the audio analog of its dialog flattening,
    LLM_scoring/scoring.py get_prompt).

    Segment semantics are identical to `audio_vad_segments` (one
    shared kernel, `_vad_spans`) — the stats columns are bit-equal by
    construction; this variant additionally memcpy-slices each segment
    out of the batch payloads.

    Spark shape: bytes in AND out of ONE mapInPandas (the NOTES.md #44
    rule — an operator that must OUTPUT transformed bytes pays the
    Arrow round-trip once; emitting offsets only would need a join
    back onto the bytes scan that either shuffles payloads or
    broadcasts a per-clip table). The fan-out is row-wise but emitted
    slices are DISJOINT sub-ranges of the input payload, so a task's
    output volume is bounded by its input volume and bytes never
    shuffle. Contract query q_audio_segments re-decodes every emitted
    segment through audio_codec_energy and checks the content against
    a closed-form DuckDB oracle that never sees a byte.
    """
    if frame_samples < 1 or min_frames < 1 or max_gap_frames < 0:
        raise ValueError("frame_samples/min_frames >= 1, max_gap_frames >= 0")
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fb = 2 * frame_samples
        for pdf in batches:
            trunc, nframes, owner, energy = _pcm16_frames(
                list(pdf["bytes"]), fb, energy=True
            )
            kown, seg, s, z, span, vf, esum = _vad_spans(
                nframes, owner, energy, energy_threshold, max_gap_frames,
                min_frames,
            )
            cid = pdf["clip_id"].to_numpy()
            out_bytes = [
                trunc[o][a * fb : (b + 1) * fb]
                for o, a, b in zip(kown, s, z)
            ]
            yield pd.DataFrame(
                {
                    "clip_id": cid[kown],
                    "seg_id": seg.astype(np.int32),
                    "start_frame": s.astype(np.int32),
                    "end_frame": z.astype(np.int32),
                    "n_frames": span.astype(np.int32),
                    "voiced_frames": vf.astype(np.int32),
                    "energy_sum": esum,
                    "bytes": out_bytes,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_SEGMENT_SCHEMA)


AUDIO_TRIM_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_frames int, first_voiced int, "
    "last_voiced int, start_byte bigint, end_byte bigint, "
    "kept_samples bigint, kept_energy bigint, bytes binary"
)


def audio_trim(
    clips: DataFrame,
    frame_samples: int = 160,
    energy_threshold: int = 160 * 50,
) -> DataFrame:
    """Leading/trailing silence removal — the standard prep pass before
    windowing/chunking training clips (dead air at the edges wastes
    tokens and skews duration-based rules; interior pauses stay, that
    is `audio_vad_segments`' job).

    Same integer energy definition as the VAD (E_t = sum(|pcm16_i|)
    per frame of `frame_samples`, voiced iff E_t >= energy_threshold):
    the kept range is [first voiced frame, last voiced frame], sliced
    on WHOLE frames, so every output is exact integer arithmetic and a
    SQL engine can recompute offsets, kept sample count, and kept
    energy from a closed-form synthesis (contract query q_audio_trim
    additionally re-decodes the trimmed bytes through
    audio_codec_energy and checks the content matches the formula —
    the byte slicing itself sits between the engines).

    Output per clip: frame bounds, byte offsets into the ORIGINAL
    payload ([start_byte, end_byte)), the trimmed bytes, and
    kept_energy = sum of E_t over the kept span (interior silence
    included). Clips with NULL/short payloads report decoded_ok=false;
    decodable clips with no voiced frame keep nothing (bytes NULL,
    first/last = -1) — route them to a drop rule. Partial trailing
    frames truncate (VAD convention).

    Spark shape: bytes in AND out of one mapInPandas (Arrow round-trip,
    partition-local, no shuffle — at 10^12 rows this beats emitting
    offsets and re-joining them onto the bytes scan, which would either
    shuffle the payloads or broadcast a per-clip table). Kernel is
    batch-vectorized: one frombuffer, one reshape frame reduce, per-clip
    first/last via minimum/maximum.at over voiced frames only; the only
    per-row Python is the final bytes slice (a memcpy)."""
    if frame_samples < 1:
        raise ValueError("frame_samples must be >= 1")
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fs = frame_samples
        fb = 2 * fs  # bytes per frame
        for pdf in batches:
            nrows = len(pdf)
            trunc, nframes, owner, energy = _pcm16_frames(
                list(pdf["bytes"]), fb, energy=True
            )
            local = _concat_aranges(nframes)
            vidx = np.flatnonzero(energy >= energy_threshold)
            # first/last touch only voiced frames — silence-heavy
            # batches cost nothing here
            last = np.full(nrows, -1, dtype=np.int64)
            np.maximum.at(last, owner[vidx], local[vidx])
            neg = np.full(nrows, np.iinfo(np.int64).max, dtype=np.int64)
            np.minimum.at(neg, owner[vidx], local[vidx])
            has = last >= 0
            first = np.where(has, neg, -1)
            csum = np.concatenate(([0], np.cumsum(energy, dtype=np.int64)))
            fstarts = np.concatenate(([0], np.cumsum(nframes)))[:-1]
            kept_e = np.zeros(nrows, dtype=np.int64)
            kept_e[has] = (
                csum[fstarts[has] + last[has] + 1]
                - csum[fstarts[has] + first[has]]
            )
            start_b = np.where(has, first * fb, 0)
            end_b = np.where(has, (last + 1) * fb, 0)
            out_bytes = [
                trunc[i][f * fb : (l + 1) * fb] if f >= 0 else None
                for i, (f, l) in enumerate(zip(first, last))
            ]
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": nframes > 0,
                    "n_frames": nframes.astype(np.int32),
                    "first_voiced": first.astype(np.int32),
                    "last_voiced": last.astype(np.int32),
                    "start_byte": start_b,
                    "end_byte": end_b,
                    "kept_samples": np.where(has, (last - first + 1) * fs, 0),
                    "kept_energy": kept_e,
                    "bytes": out_bytes,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_TRIM_SCHEMA)


AUDIO_GAIN_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_samples bigint, peak bigint, "
    "gain_ppm bigint, out_energy bigint, bytes binary"
)


def audio_gain_normalize(clips: DataFrame, target_peak: int = 24000) -> DataFrame:
    """Peak (gain) normalization — the standard level-equalization pass
    before training-audio featurization: every decodable clip is
    rescaled so its largest |sample| becomes exactly ``target_peak``
    (quiet clips gain up, hot clips gain down; relative dynamics within
    a clip are preserved up to integer truncation).

    Exactness contract: the applied gain is the RATIONAL
    target_peak / peak, and each output sample is
    y_i = sign(x_i) * ((|x_i| * target_peak) // peak) — pure integer
    arithmetic (floor of a nonnegative quotient == truncation, so
    Spark, NumPy and DuckDB agree without any float tolerance).
    |y_i| <= target_peak <= 32767 by construction, so the result
    always fits int16. Digital-silence clips (peak == 0) have no
    defined gain: they report gain_ppm = 0 with bytes = NULL so a
    downstream rule can route them (normalizing silence is a no-op
    that would only hide a broken clip). gain_ppm =
    (target_peak * 10^6) // peak is reported for drift monitoring.

    Spark shape: bytes in AND out of one mapInPandas, partition-local,
    no shuffle (the audio_trim rule of thumb — an operator that OUTPUTS
    transformed bytes pays one Arrow round-trip rather than re-joining
    offsets onto a second bytes scan). Kernel is batch-vectorized:
    one frombuffer over the concatenated batch, per-clip peak via
    np.maximum.at on the owner index, one vectorized rescale, one
    int16 repack; the only per-row Python is the output slice.
    Odd trailing bytes truncate to whole samples (VAD convention).

    Contract query q_audio_gain re-decodes the output bytes through
    audio_codec_energy and pins out_energy == the oracle's closed-form
    recompute, so the byte content (not just the stats) is verified."""
    if not (1 <= target_peak <= 32767):
        raise ValueError("target_peak must be in [1, 32767]")
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tp = target_peak
        for pdf in batches:
            nrows = len(pdf)
            _, nsamp, owner, x = _pcm16_frames(list(pdf["bytes"]), 2)
            ax = np.abs(x)
            peaks = np.zeros(nrows, dtype=np.int64)
            np.maximum.at(peaks, owner, ax)
            safe = np.maximum(peaks, 1)
            y = np.sign(x) * ((ax * tp) // safe[owner])
            # silent and refused rows (peak 0) have all-zero y
            out_e = np.zeros(nrows, dtype=np.int64)
            np.add.at(out_e, owner, np.abs(y))
            gain = np.where(peaks > 0, (tp * 1_000_000) // safe, 0)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": nsamp > 0,
                    "n_samples": nsamp,
                    "peak": peaks,
                    "gain_ppm": gain,
                    "out_energy": out_e,
                    "bytes": _pack_pcm16_rows(y, nsamp, peaks == 0),
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_GAIN_SCHEMA)


AUDIO_DOWNMIX_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_frames bigint, "
    "out_energy bigint, bytes binary"
)


def audio_downmix(clips: DataFrame, channels: int = 2) -> DataFrame:
    """Interleaved multichannel PCM16 -> mono PCM16 (channel average),
    the missing half of the multichannel story: decode_wav averages
    channels in float for FEATURE use; this operator produces exact
    integer mono BYTES for storage/re-ingest, so the corpus
    normalization (everything downstream assumes mono) is itself
    oracle-checkable.

    Exactness contract: y_t = sign(s_t) * (|s_t| // ch) with
    s_t = sum of the frame's channel samples — integer magnitude
    floor == truncation, the shared cross-engine rule (DuckDB's `//`
    truncates toward zero while NumPy's floors, so the sign-split
    form is the ONLY portable one — same discipline as
    audio_gain_normalize). |y_t| <= max|s_t|/ch <= 32768, emitted
    int16 after a clip to [-32768, 32767] (only reachable when every
    channel sits at -32768).

    Spark shape: bytes in AND out of one mapInPandas (the audio_trim
    rule); kernel is one frombuffer + one reshape-sum per Arrow batch,
    per-row Python only for the output slice. Payloads truncate to
    whole channel frames (VAD convention)."""
    if channels < 2:
        raise ValueError("downmix needs channels >= 2")
    pruned = clips.select("clip_id", "bytes")
    fb = 2 * channels  # bytes per interleaved frame

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ch = channels
        for pdf in batches:
            _, nframes, owner, x = _pcm16_frames(list(pdf["bytes"]), fb)
            s = x.reshape(-1, ch).sum(axis=1)
            y = np.sign(s) * (np.abs(s) // ch)
            np.clip(y, -32768, 32767, out=y)
            out_e = np.zeros(len(pdf), dtype=np.int64)
            np.add.at(out_e, owner, np.abs(y))
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": nframes > 0,
                    "n_frames": nframes,
                    "out_energy": out_e,
                    "bytes": _pack_pcm16_rows(y, nframes, nframes == 0),
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_DOWNMIX_SCHEMA)


AUDIO_CLIPPING_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_samples bigint, "
    "clipped bigint, clip_ppm bigint, max_run bigint"
)


def audio_clipping(clips: DataFrame, threshold: int = 32760) -> DataFrame:
    """Clipping / saturation QC — the standard drop rule for clips
    recorded too hot: a sample is *clipped* when |x| >= threshold
    (near full scale; true digital clipping flat-tops at +-32767 /
    -32768 but real ADCs rail a few codes early). Reports the clipped
    count, clip_ppm = clipped * 10^6 // n (integer parts-per-million
    — no float), and the longest CONSECUTIVE clipped run in samples
    (a few isolated peaks are fine; a 100 ms flat-top is not).

    Integer-exact throughout, so the DuckDB twin replays count and
    max-run with a gaps-and-islands recompute (q_audio_clipping).

    Kernel is batch-vectorized including the run detection: runs are
    delimited where the clipped mask starts or the owning clip
    changes, run ids come from one cumsum, per-run lengths from one
    bincount, per-clip max via maximum.at — no per-sample Python, no
    per-row loop (the audio_fingerprint discipline)."""
    if not (1 <= threshold <= 32768):
        raise ValueError("threshold must be in [1, 32768]")
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        thr = threshold
        for pdf in batches:
            nrows = len(pdf)
            _, nsamp, owner, x = _pcm16_frames(list(pdf["bytes"]), 2)
            m = np.abs(x) >= thr
            clipped = np.zeros(nrows, dtype=np.int64)
            np.add.at(clipped, owner, m.astype(np.int64))
            max_run = np.zeros(nrows, dtype=np.int64)
            if m.any():
                # a run starts where m turns on or the clip changes
                prev_m = np.concatenate(([False], m[:-1]))
                same_owner = np.concatenate(
                    ([False], owner[1:] == owner[:-1])
                )
                starts = m & ~(prev_m & same_owner)
                run_id = np.cumsum(starts) - 1  # valid where m
                lens = np.bincount(run_id[m])
                run_owner = owner[starts]
                np.maximum.at(max_run, run_owner, lens)
            ppm = np.where(
                nsamp > 0, clipped * 1_000_000 // np.maximum(nsamp, 1), 0
            )
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": nsamp > 0,
                    "n_samples": nsamp,
                    "clipped": clipped,
                    "clip_ppm": ppm,
                    "max_run": max_run,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_CLIPPING_SCHEMA)


AUDIO_COMPRESS_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_samples bigint, "
    "reduced bigint, out_energy bigint, bytes binary"
)


def audio_compress_dynamics(
    clips: DataFrame, threshold: int = 8000, ratio: int = 4
) -> DataFrame:
    """Hard-knee dynamic-range compression — the level-taming pass run
    before gain normalization so one shout doesn't set the whole
    clip's gain: samples inside [-threshold, threshold] pass through,
    louder ones keep only 1/ratio of the overshoot:

        y = x                                   if |x| <= threshold
        y = sign(x) * (threshold + (|x| - threshold) // ratio)  else

    Pure integer arithmetic (the sign-split // discipline shared with
    audio_gain_normalize / audio_downmix — the only division form
    NumPy, Spark and DuckDB agree on), so the contract oracle replays
    the exact output. `reduced` counts compressed samples (an audit
    signal: ~0 means the threshold never engaged and the stage is a
    no-op for that clip).

    Spark shape: bytes in AND out of one mapInPandas (audio_trim rule);
    kernel is one frombuffer + one where() per Arrow batch."""
    if not (1 <= threshold <= 32767):
        raise ValueError("threshold must be in [1, 32767]")
    if ratio < 1:
        raise ValueError("ratio must be >= 1")
    pruned = clips.select("clip_id", "bytes")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        thr, rat = threshold, ratio
        for pdf in batches:
            nrows = len(pdf)
            _, nsamp, owner, x = _pcm16_frames(list(pdf["bytes"]), 2)
            ax = np.abs(x)
            over = ax > thr
            mag = np.where(over, thr + (ax - thr) // rat, ax)
            y = np.sign(x) * mag
            reduced = np.zeros(nrows, dtype=np.int64)
            np.add.at(reduced, owner, over.astype(np.int64))
            out_e = np.zeros(nrows, dtype=np.int64)
            np.add.at(out_e, owner, mag)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": nsamp > 0,
                    "n_samples": nsamp,
                    "reduced": reduced,
                    "out_energy": out_e,
                    "bytes": _pack_pcm16_rows(y, nsamp, nsamp == 0),
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_COMPRESS_SCHEMA)


def encode_wav_pcm16(pcm: np.ndarray, sr_hz: int) -> bytes:
    """int linear samples -> mono PCM16 RIFF/WAVE bytes (the exact
    inverse of decode_wav_int's format-1 path: 44-byte canonical
    header + little-endian samples, values clipped to int16). The
    header is fully determined by (n_samples, sr_hz), so a SQL oracle
    can predict total size (44 + 2n) and the decoded content without
    parsing anything."""
    if sr_hz <= 0:
        raise ValueError("sr_hz must be positive")
    data = np.clip(pcm, -32768, 32767).astype("<i2").tobytes()
    n = len(data)
    hdr = (
        b"RIFF"
        + (36 + n).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")       # PCM
        + (1).to_bytes(2, "little")       # mono
        + sr_hz.to_bytes(4, "little")
        + (sr_hz * 2).to_bytes(4, "little")   # byte rate
        + (2).to_bytes(2, "little")       # block align
        + (16).to_bytes(2, "little")      # bits
        + b"data"
        + n.to_bytes(4, "little")
    )
    return hdr + data


def audio_wrap_wav(clips: DataFrame) -> DataFrame:
    """Container-normalization sink stage: decode every decodable clip
    through the integer-exact registry and re-wrap it as mono PCM16
    RIFF/WAV (codec tag 'wav') — the standard interchange form a
    downstream consumer that only speaks WAV expects. Inverse pair
    with decode_wav_int: wrap-then-decode is the identity on PCM16
    content (pytest-pinned), and a wrapped corpus round-trips through
    audio_codec_energy bit-exactly. Same narrow shape as
    audio_transcode: pruned scan -> mapInPandas -> sink, bytes never
    shuffle, undecodable rows pass through with NULL bytes and their
    ORIGINAL codec tag (quarantine routing). Expects sr_hz on the
    input frame (the clips-table contract column)."""
    pruned = clips.select("clip_id", "bytes", "codec", "sr_hz")

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codecs = pdf["codec"].tolist()
            payloads = pdf["bytes"].tolist()
            srs = pdf["sr_hz"].tolist()
            out_bytes: list = []
            out_codec: list[str] = []
            nsamp = np.zeros(len(pdf), dtype=np.int64)
            for i, pcm in enumerate(_decode_int_batch(payloads, codecs)):
                sr = srs[i]
                # sr != sr: Arrow delivers a NULL int as NaN, which
                # slips past `is None` and `<= 0` — int(NaN) would
                # kill the task instead of quarantining the row
                if pcm is None or sr is None or sr != sr or sr <= 0:
                    out_bytes.append(None)
                    out_codec.append(codecs[i])
                else:
                    out_bytes.append(encode_wav_pcm16(pcm, int(sr)))
                    out_codec.append("wav")
                    nsamp[i] = len(pcm)
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "bytes": out_bytes,
                    "codec": out_codec,
                    "n_samples": nsamp,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_TRANSCODE_SCHEMA)


AUDIO_LOGMEL_SCHEMA = (
    "clip_id string, decoded_ok boolean, n_frames int, "
    "logmel array<float>"
)


def mel_filterbank(
    n_mels: int, n_fft: int, sr_hz: int, fmin: float = 0.0,
    fmax: "float | None" = None,
) -> np.ndarray:
    """Standard HTK-style triangular mel filterbank [n_mels, n_fft//2+1]
    (mel(f) = 2595*log10(1 + f/700); filter m rises from mel point m to
    m+1 and falls to m+2, band edges linearly interpolated onto the
    rFFT bin grid). Deterministic float64 — no SciPy."""
    if fmax is None:
        fmax = sr_hz / 2.0
    if not (0 <= fmin < fmax <= sr_hz / 2.0) or n_mels < 1:
        raise ValueError("bad mel filterbank parameters")
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    imel = lambda m: 700.0 * (10.0 ** (m / 2595.0) - 1.0)  # noqa: E731
    pts = imel(np.linspace(mel(fmin), mel(fmax), n_mels + 2))
    bins = np.fft.rfftfreq(n_fft, d=1.0 / sr_hz)
    fb = np.zeros((n_mels, len(bins)))
    for m in range(n_mels):
        lo, cen, hi = pts[m], pts[m + 1], pts[m + 2]
        up = (bins - lo) / max(cen - lo, 1e-12)
        down = (hi - bins) / max(hi - cen, 1e-12)
        fb[m] = np.clip(np.minimum(up, down), 0.0, None)
    return fb


def audio_logmel(
    clips: DataFrame,
    n_mels: int = 16,
    frame: int = 400,
    hop: int = 160,
    pcm16_alias_codecs: tuple[str, ...] = (),
) -> DataFrame:
    """Per-clip mean log-mel energy vector — THE standard ASR front-end
    feature (what a Whisper/conformer-style consumer of this corpus
    computes first), exposed as a QC/featurization stage: framed rFFT
    power spectra -> triangular mel filterbank -> log10 -> mean over
    frames. Per-frame matrices would multiply output volume by
    n_frames; the per-clip mean is the corpus-QC projection (band
    energy balance; a low-pass transcode or hum shows up immediately),
    and the full matrix path is the same kernel minus the mean.

    Spark shape: pruned scan -> ONE mapInPandas -> (clip_id, 16
    floats); bytes never shuffle. Framing uses sliding_window_view
    (zero-copy) and ONE batched rFFT per clip over all its frames.
    Hann window (periodic), log floor 1e-10. Pytest-only oracle by
    declared nature (float FFT — the audio_spectral/loudness rule);
    the deterministic mel filterbank itself is pinned against an
    independent loop-built twin."""
    if frame < 8 or hop < 1 or n_mels < 1:
        raise ValueError("frame >= 8, hop >= 1, n_mels >= 1")
    pruned = clips.select("clip_id", "bytes", "sr_hz", "codec")
    decoders = resolve_decoders(pcm16_alias_codecs)
    hann = 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(frame) / frame)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fb_cache: dict[int, np.ndarray] = {}
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            nf = np.zeros(n, dtype=np.int32)
            out: list = [None] * n
            srs = pdf["sr_hz"]
            # a row without a usable rate is never decoded (sr != sr:
            # NULL ints arrive as NaN through Arrow)
            payloads = [
                None if sr is None or sr != sr or sr <= 0 else b
                for b, sr in zip(pdf["bytes"], srs)
            ]
            pcms = _decode_float_batch(payloads, pdf["codec"], decoders)
            for i, (pcm, sr) in enumerate(zip(pcms, srs)):
                if pcm is None or len(pcm) < frame:
                    continue
                pcm = pcm.astype(np.float64)
                if sr not in fb_cache:
                    fb_cache[sr] = mel_filterbank(n_mels, frame, int(sr))
                frames = np.lib.stride_tricks.sliding_window_view(
                    pcm, frame
                )[::hop]
                spec = np.abs(np.fft.rfft(frames * hann, axis=1)) ** 2
                mels = np.log10(np.maximum(spec @ fb_cache[sr].T, 1e-10))
                ok[i] = True
                nf[i] = len(frames)
                out[i] = mels.mean(axis=0).astype(np.float32).tolist()
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"],
                    "decoded_ok": ok,
                    "n_frames": nf,
                    "logmel": out,
                }
            )

    return pruned.mapInPandas(_op, schema=AUDIO_LOGMEL_SCHEMA)


def adpcm_encode_batch(
    pcms: "list[np.ndarray | None]",
) -> "list[bytes | None]":
    """Encode a BATCH of int linear-sample arrays to IMA ADPCM
    (4 bits/sample, 4:1 vs PCM16), vectorized across clips exactly
    like adpcm_decode_batch: one pass over sample index t updates
    [n_clips]-wide predictor/step-index vectors. The quantizer is the
    standard successive compare-subtract (bits 4/2/1 against step,
    step>>1, step>>2) and the encoder tracks the DECODER's
    reconstruction (same delta arithmetic, same clipping), so error
    never accumulates beyond one step's quantization floor. LOSSY by
    nature — round-tripping satisfies an SNR invariant (pytest pins
    >= 30 dB on band-limited signals), never bit-equality. Header:
    initial predictor = first sample (first nibble encodes zero
    diff), initial step index 0. Odd sample counts drop the last
    sample (nibbles pack two per byte) — documented truncation, same
    whole-unit discipline as frame truncation elsewhere. None in ->
    None out; empty/1-sample arrays -> None (nothing encodable)."""
    m = len(pcms)
    lens = np.zeros(m, dtype=np.int64)
    ok = np.zeros(m, dtype=bool)
    for i, x in enumerate(pcms):
        if x is None or len(x) < 2:
            continue
        ok[i] = True
        lens[i] = (len(x) // 2) * 2
    max_n = int(lens.max()) if m else 0
    if max_n == 0:
        return [None] * m
    xs = np.zeros((m, max_n), dtype=np.int32)
    for i, x in enumerate(pcms):
        if ok[i]:
            xs[i, : lens[i]] = np.clip(
                np.asarray(x[: lens[i]], dtype=np.int64), -32768, 32767
            )
    pred = xs[:, 0].copy()
    idx = np.zeros(m, dtype=np.int32)
    first = np.where(ok, pred, 0).astype(np.int32)
    nibs = np.zeros((m, max_n), dtype=np.uint8)
    for t in range(max_n):
        step = IMA_STEP_TABLE[idx]
        diff = xs[:, t] - pred
        sign = diff < 0
        ad = np.abs(diff)
        b4 = ad >= step
        ad = ad - np.where(b4, step, 0)
        h = step >> 1
        b2 = ad >= h
        ad = ad - np.where(b2, h, 0)
        q = step >> 2
        b1 = ad >= q
        nib = (
            np.where(sign, 8, 0)
            + np.where(b4, 4, 0)
            + np.where(b2, 2, 0)
            + np.where(b1, 1, 0)
        ).astype(np.int32)
        # reconstruct exactly as the decoder will
        delta = (
            (step >> 3)
            + np.where(b4, step, 0)
            + np.where(b2, step >> 1, 0)
            + np.where(b1, step >> 2, 0)
        )
        pred = np.where(sign, pred - delta, pred + delta)
        pred = np.clip(pred, -32768, 32767)
        idx = np.clip(idx + IMA_INDEX_TABLE[nib], 0, 88)
        nibs[:, t] = nib
    packed = (nibs[:, 0::2] | (nibs[:, 1::2] << 4)).astype(np.uint8)
    out: "list[bytes | None]" = []
    for i in range(m):
        if not ok[i]:
            out.append(None)
            continue
        hdr = int(first[i]).to_bytes(2, "little", signed=True) + b"\x00\x00"
        out.append(hdr + packed[i, : lens[i] // 2].tobytes())
    return out
