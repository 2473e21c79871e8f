"""Pure-stdlib WAV (RIFF/WAVE) codec — the REAL audio decode path.

Audio rides the multimodal binary columns the same way images do
(SURVEY.md §1.4); this module gives the audio branch an actual container
parse instead of a stub: classic RIFF chunk walk, fmt/data extraction,
and decode for the four WAVE codecs telephony/interchange corpora
actually carry —

- 1    = PCM (8/16-bit)
- 6    = G.711 A-law  (ITU-T G.711, the CCITT reference expansion)
- 7    = G.711 µ-law
- 0x11 = IMA/DVI ADPCM (the IMA ADPCM spec's step/index tables)

plus deterministic writers for fixtures.  Perceptual codecs (MP3/AAC)
stay the ffmpeg plug-in seam — everything above is the bit-exact class
a 100-TB pipeline normalizes into anyway.
"""

from __future__ import annotations

import struct

import numpy as np

_KNOWN_FMTS = (1, 6, 7, 0x11)


def _walk_wav(data: bytes) -> tuple[int, int, int, int, int, int, int]:
    """ONE RIFF chunk walk → (audio_fmt, rate, channels, bits,
    block_align, data_off, data_len), using the FIRST fmt/data chunks —
    shared by the header scan and the decoder so metadata and samples
    can never disagree."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data_loc = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if cid == b"fmt " and fmt is None:
            audio_fmt, ch, rate = struct.unpack("<HHI", data[pos + 8 : pos + 16])
            block_align = int.from_bytes(data[pos + 20 : pos + 22], "little")
            bits = int.from_bytes(data[pos + 22 : pos + 24], "little")
            if audio_fmt not in _KNOWN_FMTS:
                raise NotImplementedError(f"WAV codec {audio_fmt}")
            fmt = (audio_fmt, rate, ch, bits, block_align)
        elif cid == b"data" and data_loc is None:
            data_loc = (pos + 8, ln)
        # chunks are word-aligned: odd sizes pad one byte
        pos += 8 + ln + (ln & 1)
    if fmt is None or data_loc is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, rate, ch, bits, block_align = fmt
    if audio_fmt == 1 and bits not in (8, 16):
        raise NotImplementedError(f"WAV {bits}-bit PCM unsupported")
    if audio_fmt in (6, 7) and bits != 8:
        raise ValueError(f"G.711 requires 8-bit samples, got {bits}")
    if audio_fmt == 0x11 and bits != 4:
        raise ValueError(f"IMA ADPCM requires 4-bit samples, got {bits}")
    return audio_fmt, rate, ch, bits, block_align, data_loc[0], data_loc[1]


# ------------------------------------------------------------- G.711
# CCITT/Sun reference expansion formulas (ITU-T G.711): decode tables
# built from the published formulas, encoders by segment search.


def _mulaw_table() -> np.ndarray:
    u = (~np.arange(256, dtype=np.int32)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _alaw_table() -> np.ndarray:
    a = np.arange(256, dtype=np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(
        seg == 0, t + 8, np.where(seg == 1, t + 0x108, (t + 0x108) << np.maximum(seg - 1, 0))
    )
    return np.where(a & 0x80, t, -t).astype(np.int16)


_MULAW = _mulaw_table()
_ALAW = _alaw_table()


def mulaw_decode(data: bytes) -> np.ndarray:
    return _MULAW[np.frombuffer(data, dtype=np.uint8)]


def alaw_decode(data: bytes) -> np.ndarray:
    return _ALAW[np.frombuffer(data, dtype=np.uint8)]


# --------------------------------------------------------- IMA ADPCM

_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
        37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
        157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
        544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
        1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
        4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
        11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
        27086, 29794, 32767,
    ],
    dtype=np.int32,
)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    step = int(_IMA_STEPS[index])
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + int(_IMA_INDEX[nibble & 7])))
    return pred, index


def ima_adpcm_decode_block(block: bytes, n_frames: int) -> np.ndarray:
    """One mono IMA ADPCM block: 4-byte header (predictor int16 LE,
    step index, reserved), then two 4-bit nibbles per byte, low nibble
    first.  The header predictor IS sample 0."""
    if len(block) < 4:
        raise ValueError("ADPCM block shorter than its header")
    pred = struct.unpack("<h", block[:2])[0]
    index = block[2]
    if index > 88:
        raise ValueError(f"ADPCM step index {index} out of range")
    out = [pred]
    for byte in block[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            pred, index = _ima_step(pred, index, nib)
            out.append(pred)
            if len(out) >= n_frames:
                break
        if len(out) >= n_frames:
            break
    if len(out) < n_frames:
        raise ValueError("ADPCM block yields fewer frames than declared")
    return np.array(out[:n_frames], dtype=np.int16)


def ima_adpcm_encode(samples: np.ndarray, frames_per_block: int = 505) -> bytes:
    """Mono IMA ADPCM encoder for fixtures: standard nibble quantizer,
    predictor carried across blocks, index reset per block header."""
    s = np.asarray(samples, dtype=np.int32)
    out = bytearray()
    index = 0
    pos = 0
    while pos < len(s):
        chunk = s[pos : pos + frames_per_block]
        pred = int(chunk[0])
        out += struct.pack("<hBB", pred, index, 0)
        nibbles: list[int] = []
        for x in chunk[1:]:
            step = int(_IMA_STEPS[index])
            delta = int(x) - pred
            nib = 8 if delta < 0 else 0
            delta = abs(delta)
            if delta >= step:
                nib |= 4
                delta -= step
            if delta >= step >> 1:
                nib |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                nib |= 1
            pred, index = _ima_step(pred, index, nib)
            nibbles.append(nib)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
        pos += frames_per_block
    return bytes(out)


def _read_fact(data: bytes) -> int | None:
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        ln = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if cid == b"fact" and ln >= 4:
            return int.from_bytes(data[pos + 8 : pos + 12], "little")
        pos += 8 + ln + (ln & 1)
    return None


def _n_frames(
    audio_fmt: int, ch: int, bits: int, block_align: int, data: bytes, ln: int
) -> int:
    if audio_fmt == 0x11:
        fact = _read_fact(data)
        if fact is not None:
            return fact
        blocks, rem = divmod(ln, block_align)
        full = blocks * (1 + (block_align - 4) * 2)
        return full + (1 + (rem - 4) * 2 if rem >= 4 else 0)
    return ln // (ch * bits // 8)


def parse_wav_header(data: bytes) -> tuple[int, int, int, int]:
    """(sample_rate, channels, bits_per_sample, n_frames) from the RIFF
    chunk walk — no sample materialization (a metadata scan over a large
    corpus must never pay for sample decode).  Compressed-codec frame
    counts come from the fact chunk (falling back to block math)."""
    audio_fmt, rate, ch, bits, ba, _off, ln = _walk_wav(data)
    return rate, ch, bits, _n_frames(audio_fmt, ch, bits, ba, data, ln)


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ((n_frames, channels) int16 samples, sample_rate),
    decoding whichever of the four supported codecs the fmt chunk
    declares.  8-bit PCM (unsigned) is centered and widened to int16;
    G.711 expands via the CCITT tables; IMA ADPCM walks its blocks."""
    audio_fmt, rate, ch, bits, ba, off, ln = _walk_wav(data)
    body = data[off : off + ln]
    if audio_fmt == 1:
        if bits == 16:
            samples = np.frombuffer(body, dtype="<i2")
        else:  # 8-bit PCM is unsigned, midpoint 128
            samples = (
                np.frombuffer(body, dtype=np.uint8).astype(np.int16) - 128
            ) << 8
        return samples.reshape(-1, ch), rate
    if audio_fmt in (6, 7):
        dec = alaw_decode(body) if audio_fmt == 6 else mulaw_decode(body)
        return dec.reshape(-1, ch), rate
    # IMA ADPCM: mono only (stereo interleaves 4-byte sub-blocks and
    # does not appear in the fixture class)
    if ch != 1:
        raise NotImplementedError("IMA ADPCM decode supports mono only")
    total = _n_frames(audio_fmt, ch, bits, ba, data, ln)
    frames_per_block = 1 + (ba - 4) * 2
    out: list[np.ndarray] = []
    done = 0
    for b0 in range(0, ln, ba):
        block = body[b0 : b0 + ba]
        n = min(frames_per_block, total - done)
        if n <= 0:
            break
        out.append(ima_adpcm_decode_block(block, n))
        done += n
    if done < total:
        raise ValueError("ADPCM data shorter than declared frame count")
    return np.concatenate(out).reshape(-1, 1), rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """(n[, channels]) int16 → PCM16 RIFF/WAVE bytes (deterministic)."""
    a = np.asarray(samples, dtype="<i2")
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    body = a.tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
    chunks = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(body).to_bytes(4, "little") + body
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks


def encode_g711_wav(coded: bytes, law: str = "mu", rate: int = 8000) -> bytes:
    """Already-companded G.711 bytes → mono RIFF/WAVE container (fmt 7
    for µ-law, 6 for A-law) — fixtures carry KNOWN coded bytes so the
    oracle can replay the expansion arithmetically."""
    audio_fmt = 7 if law == "mu" else 6
    fmt = struct.pack("<HHIIHH", audio_fmt, 1, rate, rate, 1, 8)
    chunks = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"data" + len(coded).to_bytes(4, "little") + coded
    if len(coded) & 1:
        chunks += b"\x00"
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks


def encode_ima_wav(
    samples: np.ndarray, rate: int = 8000, frames_per_block: int = 505
) -> bytes:
    """Mono int16 → IMA ADPCM RIFF/WAVE (fmt 0x11) with a fact chunk
    carrying the exact frame count."""
    s = np.asarray(samples, dtype=np.int16).ravel()
    body = ima_adpcm_encode(s, frames_per_block)
    block_align = 4 + (frames_per_block - 1 + 1) // 2
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        rate,
        rate * block_align // frames_per_block,
        block_align,
        4,
        2,
        frames_per_block,
    )
    fact = struct.pack("<I", len(s))
    chunks = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    chunks += b"fact" + len(fact).to_bytes(4, "little") + fact
    chunks += b"data" + len(body).to_bytes(4, "little") + body
    if len(body) & 1:
        chunks += b"\x00"
    return b"RIFF" + len(chunks).to_bytes(4, "little") + chunks
