"""ANS-MSB entropy codec — the reference's headline compressor, in NumPy.

Reimplements the semantics of the reference's ``ans_msb`` family
(ans_util.hpp, ans_msb_util.hpp, ans_msb_model.hpp) with the
``msb_model_medmax_2d_merged`` model picker (the paper's headline
codec, README.md:72-77): 256-value blocks, MSB symbol mapping with
1-3 exception bytes, 256 (16x16) magnitude-keyed models merged down to
<=63 by minimum entropy loss, power-of-two normalized frames
(M = next_pow2(16 x uniq_syms)), 64-bit rANS state with 32-bit-word
renormalization.

Stream layout per block (byte-compatible with the reference,
ans_msb_model.hpp:507-571):

  [header: 1 byte 0x00 if model_id==0, else 2 bytes BE
     (model_id<<10) | (final_state_bytes-1)<<7 | num_ans_u32s]
  [final state: final_state_bytes bytes, big-endian]
  [ANS words: num_ans_u32s x 4 bytes, reverse flush order, each LE u32]
  [exception bytes: per symbol in forward order, little-endian]

Special paths (ans_msb_model.hpp:507-521, 582-617):
  - sum_of_values == 0 (docs block, all gaps 1): zero payload
  - docs list with n <= VBYTE_THRESHOLD(10): vbyte payload; n == 1: none
  - model_id 0 after remap: 1 header byte, no payload

Execution model: the rANS state recurrence is sequential per block but
blocks are independent, so encode/decode run INTERLEAVED across all
blocks of an Arrow batch — one NumPy vector op per symbol step over
the whole batch (the Spark-native replacement for the reference's
scalar loop).  uint64 wrap-around semantics match C++ via NumPy.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from partitioned_ef_ans_spark.codecs import vbyte

BLOCK_SIZE = 256
OUTPUT_BASE_LOG2 = 32
FRAME_SIZE_FACTOR = 16
MAX_VAL = 1024
NORM_LOWER_BOUND = np.uint64(1 << 31)
VBYTE_THRESHOLD = 10
NUM_MODELS = 256
MAX_NUM_MODELS = 63
SUM_UNKNOWN = -1  # freqs blocks pass uint32(-1) in the reference

#: magnitude -> 4-bit selector (ans_msb_model.hpp MAG2SEL)
MAG2SEL = np.array(
    [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 9, 10, 10, 11, 11, 12, 12, 13, 13, 13,
     14, 14, 14, 15, 15, 15, 15, 15, 15, 15, 15, 15, 15],
    dtype=np.uint32,
)

#: model-family variants (ans_msb_model.hpp:23-305, index_types.hpp:50-53):
#: name -> (raw model count, header format, merged?)
#: header formats: packed1 = 1 byte (id<<4 | fsb) + 1 byte nwords
#:                 (msb_model_max_1d:37-55), bytes3 = id, fsb, nwords
#:                 bytes (minmax/med90p:84-101,133-150), packed2 =
#:                 2-byte BE (id<<10 | (fsb-1)<<7 | nwords)
#:                 (merged models:173-196,507-521)
VARIANTS: dict[str, tuple[int, str, bool]] = {
    "max_1d": (16, "packed1", False),
    "minmax_2d": (256, "bytes3", False),
    "med90p_2d": (256, "bytes3", False),
    "med90p_2d_merged": (256, "packed2", True),
    "medmax_2d_merged": (256, "packed2", True),
}
DEFAULT_VARIANT = "medmax_2d_merged"


# ------------------------------------------------------------------ helpers

def magnitude(x: np.ndarray) -> np.ndarray:
    """ceil(log2(x)) with magnitude(1)=0 (ans_util.hpp:13-22)."""
    x = np.asarray(x, dtype=np.uint64)
    # frexp is exact for x < 2^53 (all inputs here are < 2^33):
    # frexp -> (m, e) with x = m * 2^e, 0.5 <= m < 1, so floor(log2)=e-1
    e = np.frexp(x.astype(np.float64))[1]
    ispow2 = (x & (x - np.uint64(1))) == 0
    out = np.where(x <= 1, 0, np.where(ispow2, e - 1, e))
    return out.astype(np.uint32)


def mapping_alistair(x: np.ndarray) -> np.ndarray:
    """u32 value (>=1) -> MSB symbol <=1024 (ans_msb_util.hpp:221-230)."""
    x = np.asarray(x).astype(np.int64, copy=False)
    # bucket 0: x<=256 -> x ; 1: <=2^16 -> (x>>8)+256 ;
    # 2: <=2^24 -> (x>>16)+512 ; 3: else (x>>24)+768
    b = (x > 256).astype(np.int64) + (x > (1 << 16)) + (x > (1 << 24))
    return ((x >> (b << 3)) + (b << 8)).astype(np.uint32)


def exception_bytes(sym: np.ndarray) -> np.ndarray:
    """#side-stream bytes for a mapped symbol (ans_msb_util.hpp:180-188)."""
    s = np.asarray(sym).astype(np.int64, copy=False)
    return ((s > 256).astype(np.uint8) + (s > 512) + (s > 768)).astype(np.uint8)


def undo_mapping(sym: np.ndarray) -> np.ndarray:
    """mapped symbol -> value with exception bytes zeroed
    (ans_msb_util.hpp:170-178)."""
    s = np.asarray(sym).astype(np.int64, copy=False)
    b = (s > 256).astype(np.int64) + (s > 512) + (s > 768)
    return (((s - (b << 8)) << (b << 3))).astype(np.uint64)


def pick_model(
    blocks: np.ndarray, ns: np.ndarray, variant: str = DEFAULT_VARIANT
) -> np.ndarray:
    """Vectorized per-variant pick_model (ans_msb_model.hpp:24-34
    max_1d, :68-81 minmax_2d, :112-126 med90p_2d, :287-301
    medmax_2d_merged) over a (B, BLOCK_SIZE) padded batch."""
    B = blocks.shape[0]
    pad = blocks.astype(np.int64, copy=True)
    idx = np.arange(BLOCK_SIZE)[None, :]
    pad[idx >= ns[:, None]] = np.iinfo(np.int64).max  # sort sentinel
    srt = np.sort(pad, axis=1)
    rows = np.arange(B)
    mx = srt[rows, ns - 1].astype(np.uint64)
    if variant == "max_1d":
        return MAG2SEL[magnitude(mx + 1)].astype(np.uint32)
    if variant == "minmax_2d":
        mn = srt[rows, 0].astype(np.uint64)
        sel = (MAG2SEL[magnitude(mx + 1)] << 4) + MAG2SEL[magnitude(mn + 1)]
        return sel.astype(np.uint32)
    if variant in ("med90p_2d", "med90p_2d_merged"):
        med = srt[rows, ns // 2].astype(np.uint64)
        # C++ buf[size_t(n * 0.9)]: double multiply, truncation
        p90 = srt[rows, (ns.astype(np.float64) * 0.9).astype(np.int64)].astype(
            np.uint64
        )
        sel = (MAG2SEL[magnitude(p90 + 1)] << 4) + MAG2SEL[magnitude(med + 1)]
        sel = np.where((sel == 0) & (mx != 0), 1, sel)
        return sel.astype(np.uint32)
    med = srt[rows, ns // 2].astype(np.uint64)
    sel = (MAG2SEL[magnitude(mx + 1)] << 4) + MAG2SEL[magnitude(med + 1)]
    sel = np.where((sel == 0) & (mx != 0), 1, sel)
    return sel.astype(np.uint32)


def pick_model_medmax(blocks: np.ndarray, ns: np.ndarray) -> np.ndarray:
    return pick_model(blocks, ns, DEFAULT_VARIANT)


# ----------------------------------------------------------- model training

def new_counts(variant: str = DEFAULT_VARIANT) -> np.ndarray:
    return np.zeros((VARIANTS[variant][0], MAX_VAL + 1), dtype=np.uint64)


def accumulate_counts(
    counts: np.ndarray,
    blocks: np.ndarray,
    ns: np.ndarray,
    sums: np.ndarray,
    variant: str = DEFAULT_VARIANT,
) -> None:
    """Pass-1 modelling (ans_msb_model.hpp:491-505) for a batch of
    blocks.  ``sums``: exact block sum for docs streams, SUM_UNKNOWN for
    freqs streams; docs lists with n<=VBYTE_THRESHOLD are excluded."""
    keep = ~((sums != SUM_UNKNOWN) & (ns <= VBYTE_THRESHOLD))
    if not np.any(keep):
        return
    blocks = blocks[keep]
    ns = ns[keep]
    models = pick_model(blocks, ns, variant)
    valid = np.arange(BLOCK_SIZE)[None, :] < ns[:, None]
    # map only the valid lanes (padding is ~30% of the matrix)
    vals = blocks[valid].astype(np.int64, copy=False) + 1
    syms = mapping_alistair(vals)
    mid = np.broadcast_to(models[:, None], valid.shape)[valid].astype(np.int64)
    # bincount over the flattened (model, symbol) grid is ~2x add.at
    flat = mid * (MAX_VAL + 1) + syms
    counts += np.bincount(flat, minlength=counts.size).reshape(
        counts.shape
    ).astype(np.uint64)


def _entropy(cnts: np.ndarray) -> tuple[float, int]:
    """(H, N) per compute_entropy (ans_msb_util.hpp:42-56)."""
    n = float(cnts.sum())
    if n == 0:
        return 0.0, 0
    nz = cnts[cnts > 0].astype(np.float64)
    return float(np.sum(nz * np.log2(n / nz))), int(n)


def condense_models(counts: np.ndarray) -> np.ndarray:
    """Greedy minimum-entropy-loss merge of 256 models down to <=63,
    then compaction into slots [1,63] (msb_model_medmax_2d_merged::
    condense_models, ans_msb_model.hpp:332-410).  Mutates ``counts``
    (models moved into their final slots) and returns the 256-entry
    remap table raw-model-id -> final slot (0 = unused/reserved).

    Vectorized: pairwise losses come from a (active x active) matrix
    H(A u B) computed with NumPy; after each merge only the merged
    model's row/column is recomputed — and only against the LIVE
    models (pair losses are row-independent, so the subset computation
    is bit-identical to the full-matrix form; a float64 shadow of
    ``counts`` is kept in sync to avoid re-converting the whole matrix
    on every probe — 3-4x faster freeze, same merge sequence).
    """
    counts[0, :] = 0  # model 0 is the reserved all-ones selector

    ent = np.array([_entropy(counts[i])[0] for i in range(NUM_MODELS)])
    tot = counts.sum(axis=1).astype(np.float64)
    active = tot > 0
    num_models = int(active.sum())
    counts64 = counts.astype(np.float64)

    def pair_losses_against(i: int, js: np.ndarray) -> np.ndarray:
        """loss(i, j) for the given live ``js`` (vectorized over js).
        NOTE the operand order ``hc - ent[js] - ent[i]`` is load-
        bearing: the (i<j) entry must be the one the LARGER-index
        caller produces, or last-ulp drift flips argmin ties and the
        merge sequence (hence payload bytes) changes."""
        merged = counts64[js] + counts64[i][None, :]
        nc = tot[js] + tot[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            hc = np.where(
                merged > 0, merged * np.log2(nc[:, None] / merged), 0.0
            ).sum(axis=1)
        return hc - ent[js] - ent[i]

    INF = np.inf
    loss = np.full((NUM_MODELS, NUM_MODELS), INF)
    act_idx = np.flatnonzero(active)
    # only (i<j) pairs are considered by the reference scan; each
    # caller fills its COLUMN against the smaller live indices, which
    # reproduces the original full-matrix last-writer values exactly
    for i in act_idx:
        js = act_idx[act_idx < i]
        if js.size:
            loss[js, i] = pair_losses_against(int(i), js)

    merge_ops: list[tuple[int, int]] = []
    while num_models > MAX_NUM_MODELS:
        flat = np.argmin(loss)
        i, j = int(flat // NUM_MODELS), int(flat % NUM_MODELS)
        # merge i into j (merge_models: from=i, to=j)
        counts[j] += counts[i]
        counts64[j] = counts[j].astype(np.float64)
        counts[i] = 0
        counts64[i] = 0.0
        tot[j] += tot[i]
        tot[i] = 0.0
        ent[i] = 0.0
        ent[j] = _entropy(counts[j])[0]
        merge_ops.append((i, j))
        num_models -= 1
        loss[i, :] = INF
        loss[:, i] = INF
        js = np.flatnonzero(tot > 0)
        js = js[js != j]
        lj = np.full(NUM_MODELS, INF)
        if js.size:
            lj[js] = pair_losses_against(j, js)
        loss[j, j + 1:] = lj[j + 1:]
        loss[:j, j] = lj[:j]
        loss[j, :j] = INF  # keep upper-triangular convention
        loss[j + 1:, j] = INF

    # redirect chains (reference step 3)
    remap = np.zeros(NUM_MODELS, dtype=np.uint32)
    for frm, to in reversed(merge_ops):
        t = int(remap[to]) if remap[to] != 0 else to
        remap[frm] = t

    # compact surviving models into slots 1..63 (reference step 4)
    remap_final = np.zeros(NUM_MODELS, dtype=np.uint32)
    j = 1
    for i in range(NUM_MODELS):
        if remap[i] == 0 and tot[i] > 0:
            remap_final[i] = j
            if i != j:
                counts[j] = counts[i]
                counts[i] = 0
            j += 1
    for i in range(NUM_MODELS):
        if remap[i] != 0:
            remap_final[i] = remap_final[remap[i]]
    return remap_final


def normalize_freqs(freqs: np.ndarray, target_power: int) -> np.ndarray:
    """Faithful port of normalize_freqs (ans_msb_util.hpp:237-297):
    fudge-factor scaling loop + backward excess redistribution; the
    final excess lands on symbol 0."""
    nfreqs = freqs.astype(np.uint64).copy()
    nz = np.flatnonzero(freqs[1:]) + 1
    if nz.size == 0:
        return nfreqs
    n = int(nz[-1]) + 1
    initial_sum = int(freqs[1:n].sum())
    C = float(target_power) / float(initial_sum)
    M = np.iinfo(np.uint64).max
    fudge = np.float32(1.0)
    f_orig = freqs[1:n]
    while M > target_power:
        fudge = np.float32(fudge - np.float32(0.01))
        # C++: float(fudge) * uint64 -> float, * double(C) -> double, trunc
        scaled = (
            (fudge * f_orig.astype(np.float32)).astype(np.float64) * C
        ).astype(np.uint64)
        scaled = np.where((f_orig != 0) & (scaled < 1), 1, scaled)
        nfreqs[1:n] = np.where(f_orig != 0, scaled, nfreqs[1:n])
        M = int(nfreqs[0:n].sum())
    excess = int(target_power) - M
    for m in range(n - 1, 0, -1):
        if M > 0:
            ratio = float(excess) / float(M)
            adder = int(ratio * float(nfreqs[m]))
        else:
            # C++: ratio = inf, adder = uint64(inf*0=nan) = 2^63 on x86,
            # which the clamp below reduces to `excess`.
            adder = excess
        if adder > excess:
            adder = excess
        excess -= adder
        M -= int(nfreqs[m])
        nfreqs[m] += np.uint64(adder)
    if excess != 0:
        nfreqs[0] += np.uint64(excess)
    assert (int(nfreqs[0:n].sum()) & (int(nfreqs[0:n].sum()) - 1)) == 0, (
        "not a power of two after normalization"
    )
    return nfreqs


# ------------------------------------------------------------ frozen models

@dataclass
class EncModels:
    """Broadcastable frozen encode-side models.

    remap: raw model id (0..255) -> final slot (0..63).
    Stacked per-slot tables indexed [slot, symbol]:
      freq/base: uint64; SUB: uint64; M: uint64[64]; used: bool[64].
    """

    remap: np.ndarray
    M: np.ndarray
    max_value: np.ndarray
    freq: np.ndarray
    base: np.ndarray
    SUB: np.ndarray
    variant: str = DEFAULT_VARIANT
    header: str = "packed2"

    def nonempty_slots(self) -> np.ndarray:
        return np.flatnonzero(self.M > 0)


@dataclass
class DecModels:
    """Decode-side tables: slot arrays padded to each model's M.

    slot_sym[slot, s]  : mapped symbol for ANS slot s (s < M[slot])
    slot_freq/slot_off : frequency / offset within the symbol's range
    For symbol reconstruction: mapped_base = undo_mapping(sym),
    except_bytes per symbol.
    """

    M: np.ndarray           # uint64[n_slots]
    log2_M: np.ndarray      # uint64[n_slots]
    mask_M: np.ndarray      # uint64[n_slots]
    slot_sym: np.ndarray    # uint16[n_slots, maxM]
    slot_freq: np.ndarray   # uint32[n_slots, maxM]
    slot_off: np.ndarray    # uint32[n_slots, maxM]
    header: str = "packed2"

    def packed_table(self) -> np.ndarray:
        """(sym<<32 | freq<<16 | off) per slot — ONE gather per decode
        step instead of three.  Fits: M <= 2^15 (frame = next_pow2(16 x
        <=1025 syms)), so freq <= 2^15 (16 bits), off < freq (16 bits),
        sym <= 1024.  Built lazily and memoized per process (field is
        absent from older pickled models)."""
        tbl = getattr(self, "_packed", None)
        if tbl is None:
            tbl = (
                (self.slot_sym.astype(np.uint64) << np.uint64(32))
                | (self.slot_freq.astype(np.uint64) << np.uint64(16))
                | self.slot_off.astype(np.uint64)
            ).ravel()
            object.__setattr__(self, "_packed", tbl)
        return tbl


def freeze_models(
    counts: np.ndarray, variant: str = DEFAULT_VARIANT
) -> tuple[EncModels, DecModels]:
    """condense + normalize + build enc/dec tables
    (create_enc_model_from_counts / create_dec_models,
    ans_msb_model.hpp:426-489).  Non-merged variants keep the identity
    remap (their condense_models is a no-op, ans_msb_model.hpp:57-64)."""
    n_raw, header, merged = VARIANTS[variant]
    cnts = counts.copy()
    if merged:
        remap = condense_models(cnts)
        n_slots = MAX_NUM_MODELS + 1
    else:
        remap = np.arange(n_raw, dtype=np.uint32)
        cnts[0, :] = 0  # model 0 is the reserved all-zero selector
        n_slots = n_raw
    M = np.zeros(n_slots, dtype=np.uint64)
    max_value = np.zeros(n_slots, dtype=np.uint32)
    freq = np.zeros((n_slots, MAX_VAL + 1), dtype=np.uint64)
    base = np.zeros((n_slots, MAX_VAL + 1), dtype=np.uint64)
    SUB = np.zeros((n_slots, MAX_VAL + 1), dtype=np.uint64)
    for slot in range(1, n_slots):
        c = cnts[slot]
        if c.sum() == 0:
            continue
        uniq = int((c != 0).sum())
        mv = int(np.flatnonzero(c)[-1])
        target = uniq * FRAME_SIZE_FACTOR
        if target & (target - 1):
            target = 1 << target.bit_length()
        nf = normalize_freqs(c, target)
        M[slot] = target
        max_value[slot] = mv
        freq[slot, : mv + 1] = nf[: mv + 1]
        base[slot, 1 : mv + 1] = np.cumsum(nf[:mv])
        tmp = (int(NORM_LOWER_BOUND) // target) * (1 << OUTPUT_BASE_LOG2)
        SUB[slot, : mv + 1] = np.uint64(tmp) * nf[: mv + 1]
    enc = EncModels(
        remap=remap, M=M, max_value=max_value, freq=freq, base=base, SUB=SUB,
        variant=variant, header=header,
    )

    maxM = int(M.max()) if M.max() > 0 else 1
    slot_sym = np.zeros((n_slots, maxM), dtype=np.uint16)
    slot_freq = np.ones((n_slots, maxM), dtype=np.uint32)
    slot_off = np.zeros((n_slots, maxM), dtype=np.uint32)
    for slot in range(1, n_slots):
        m = int(M[slot])
        if m == 0:
            continue
        mv = int(max_value[slot])
        f = freq[slot, : mv + 1].astype(np.int64)
        syms = np.repeat(np.arange(mv + 1, dtype=np.uint16), f)
        slot_sym[slot, :m] = syms
        slot_freq[slot, :m] = np.repeat(f, f).astype(np.uint32)
        starts = np.repeat(np.cumsum(f) - f, f)
        slot_off[slot, :m] = (np.arange(m) - starts).astype(np.uint32)
    log2_M = np.zeros(n_slots, dtype=np.uint64)
    nzm = M > 0
    log2_M[nzm] = np.array([int(x).bit_length() - 1 for x in M[nzm]], dtype=np.uint64)
    dec = DecModels(
        M=M,
        log2_M=log2_M,
        mask_M=np.where(nzm, M - np.uint64(1), np.uint64(0)).astype(np.uint64),
        slot_sym=slot_sym,
        slot_freq=slot_freq,
        slot_off=slot_off,
        header=header,
    )
    return enc, dec


# ------------------------------------------------------- batch encode/decode

def _state_bytes(states: np.ndarray) -> np.ndarray:
    """8 - clz(state)/8 (ans_util.hpp state_bytes), vectorized."""
    out = np.zeros(states.shape, dtype=np.uint32)
    s = states.copy()
    while np.any(s > 0):
        m = s > 0
        out[m] += 1
        s[m] >>= np.uint64(8)
    return out


def encode_blocks(
    blocks: np.ndarray, ns: np.ndarray, sums: np.ndarray, enc: EncModels
) -> list[bytes]:
    """Encode a batch of blocks; returns one payload per block.

    blocks: (B, BLOCK_SIZE) uint32/uint64 padded transformed values
            (d-gaps - 1 for docs, tf - 1 for freqs).
    ns:     (B,) true block lengths.
    sums:   (B,) exact docs-block sum, or SUM_UNKNOWN for freq blocks.
    """
    B = blocks.shape[0]
    ns = np.asarray(ns, dtype=np.int64)
    sums = np.asarray(sums, dtype=np.int64)
    blocks = np.asarray(blocks, dtype=np.uint64)
    out: list[bytes | None] = [None] * B

    # special paths
    zero_sum = sums == 0
    vb = (sums != SUM_UNKNOWN) & (ns <= VBYTE_THRESHOLD) & ~zero_sum
    for b in np.flatnonzero(zero_sum):
        out[b] = b""
    for b in np.flatnonzero(vb):
        n = int(ns[b])
        out[b] = b"" if n == 1 else vbyte.encode(blocks[b, :n].astype(np.uint32))

    ans_mask = ~(zero_sum | vb)
    idx = np.flatnonzero(ans_mask)
    if idx.size == 0:
        return out  # type: ignore[return-value]
    ab = blocks[idx]
    an = ns[idx]
    variant = getattr(enc, "variant", DEFAULT_VARIANT)
    header_fmt = getattr(enc, "header", "packed2")
    raw_model = pick_model(ab, an, variant)
    mid = enc.remap[raw_model].astype(np.int64)

    # model 0 after remap -> single 0 header byte
    m0 = mid == 0
    for b in idx[m0]:
        out[b] = b"\x00"
    live = ~m0
    idx = idx[live]
    if idx.size == 0:
        return out  # type: ignore[return-value]
    ab, an, mid = ab[live], an[live], mid[live]
    nb = idx.size

    syms = mapping_alistair(ab + np.uint64(1))  # (nb, 256)

    # ---- interleaved rANS over all blocks: step k encodes symbol n-1-k
    states = np.zeros(nb, dtype=np.uint64)
    words = np.zeros((nb, BLOCK_SIZE), dtype=np.uint32)
    wcount = np.zeros(nb, dtype=np.int64)
    rows = np.arange(nb)
    maxn = int(an.max())
    for k in range(maxn):
        alive = k < an
        col = np.where(alive, an - 1 - k, 0)
        s = syms[rows, col].astype(np.int64)
        f = enc.freq[mid, s]
        sub = enc.SUB[mid, s]
        flush = alive & (states >= sub)
        if np.any(flush):
            words[rows[flush], wcount[flush]] = (
                states[flush] & np.uint64(0xFFFFFFFF)
            ).astype(np.uint32)
            wcount[flush] += 1
            states[flush] >>= np.uint64(OUTPUT_BASE_LOG2)
        fsafe = np.where(alive, f, np.uint64(1))
        nxt = (states // fsafe) * enc.M[mid] + states % fsafe + enc.base[mid, s]
        states = np.where(alive, nxt, states)

    # state can legitimately be 0 for degenerate single-symbol models
    # (base==0 fixed point); the reference hits C++ UB there
    # (__builtin_clzll(0), ans_util.hpp:141) — we pin fsb to >=1, which
    # round-trips cleanly through the same header format.
    fsb = np.maximum(_state_bytes(states), 1)
    if header_fmt == "packed2":
        assert np.all(wcount <= 63), "ANS u32 count exceeds 6-bit header field"
    else:
        assert np.all(wcount <= 255), "ANS u32 count exceeds 1-byte header field"

    # ---- exceptions: forward symbol order, little-endian bytes
    eb = exception_bytes(syms)  # (nb, 256)
    valid = np.arange(BLOCK_SIZE)[None, :] < an[:, None]
    eb = np.where(valid, eb, 0)

    for r in range(nb):
        b = int(idx[r])
        n = int(an[r])
        mid_r = int(mid[r])
        f_bytes = int(fsb[r])
        if header_fmt == "packed1":
            # (model_id<<4 | fsb) byte + nwords byte (max_1d:37-44)
            parts = [bytes([(mid_r << 4) | f_bytes, int(wcount[r])])]
        elif header_fmt == "bytes3":
            # model_id, fsb, nwords bytes (minmax/med90p:84-91)
            parts = [bytes([mid_r, f_bytes, int(wcount[r])])]
        else:
            header = (mid_r << 10) | ((f_bytes - 1) << 7) | int(wcount[r])
            parts = [bytes([header >> 8, header & 0xFF])]
        st = int(states[r])
        parts.append(st.to_bytes(8, "big")[8 - f_bytes :])
        if wcount[r]:
            parts.append(words[r, : wcount[r]][::-1].astype("<u4").tobytes())
        erow = eb[r, :n]
        if erow.any():
            svals = (ab[r, :n] + np.uint64(1)).astype(np.uint64)
            chunks = []
            for i in np.flatnonzero(erow):
                nbyt = int(erow[i])
                chunks.append(int(svals[i] & np.uint64((1 << (8 * nbyt)) - 1)).to_bytes(nbyt, "little"))
            parts.append(b"".join(chunks))
        out[b] = b"".join(parts)
    return out  # type: ignore[return-value]


def decode_blocks(
    payload: np.ndarray,
    offsets: np.ndarray,
    ns: np.ndarray,
    sums: np.ndarray,
    dec: DecModels,
) -> np.ndarray:
    """Decode a batch of blocks from one concatenated payload buffer.

    payload: uint8 array; offsets[b] = start of block b's bytes.
    Returns ((B, BLOCK_SIZE) uint32 transformed values (padded 0),
             (B,) int64 consumed byte counts).
    """
    payload = np.asarray(payload, dtype=np.uint8)
    B = len(offsets)
    ns = np.asarray(ns, dtype=np.int64)
    sums = np.asarray(sums, dtype=np.int64)
    out = np.zeros((B, BLOCK_SIZE), dtype=np.uint32)
    sizes = np.zeros(B, dtype=np.int64)

    zero_sum = sums == 0
    vb = (sums != SUM_UNKNOWN) & (ns <= VBYTE_THRESHOLD) & ~zero_sum
    for b in np.flatnonzero(vb):
        n = int(ns[b])
        if n == 1:
            out[b, 0] = np.uint32(sums[b])
        else:
            vals, nxt = vbyte.decode(payload, n, int(offsets[b]))
            out[b, :n] = vals
            sizes[b] = nxt - int(offsets[b])
    ans_idx = np.flatnonzero(~(zero_sum | vb))
    if ans_idx.size == 0:
        return out, sizes

    # parse headers (format per model variant, see VARIANTS)
    header_fmt = getattr(dec, "header", "packed2")
    off = np.asarray(offsets, dtype=np.int64)[ans_idx]
    first = payload[off]
    live = first != 0
    sizes[ans_idx[~live]] = 1  # model-0 block: single header byte
    ans_idx = ans_idx[live]
    if ans_idx.size == 0:
        return out, sizes
    off = off[live]
    if header_fmt == "packed1":
        mid = (payload[off] >> 4).astype(np.int64)
        fsb = (payload[off] & 0xF).astype(np.int64)
        nwords = payload[off + 1].astype(np.int64)
        hdr_len = 2
    elif header_fmt == "bytes3":
        mid = payload[off].astype(np.int64)
        fsb = payload[off + 1].astype(np.int64)
        nwords = payload[off + 2].astype(np.int64)
        hdr_len = 3
    else:
        header = (payload[off].astype(np.uint32) << 8) | payload[off + 1]
        mid = (header >> 10).astype(np.int64)
        fsb = (((header >> 7) & 0x7) + 1).astype(np.int64)
        nwords = (header & 0x3F).astype(np.int64)
        hdr_len = 2
    nb = ans_idx.size
    an = ns[ans_idx]

    # init states from big-endian final-state bytes
    states = np.zeros(nb, dtype=np.uint64)
    p = off + hdr_len
    for i in range(8):
        m = i < fsb
        states[m] = (states[m] << np.uint64(8)) | payload[p[m] + i].astype(np.uint64)
    wstart = p + fsb  # start of words region

    # gather words into (nb, maxw) padded
    maxw = int(nwords.max()) if nb else 0
    words = np.zeros((nb, max(maxw, 1)), dtype=np.uint64)
    for w in range(maxw):
        m = w < nwords
        base = wstart[m] + 4 * w
        words[m, w] = (
            payload[base].astype(np.uint64)
            | (payload[base + 1].astype(np.uint64) << np.uint64(8))
            | (payload[base + 2].astype(np.uint64) << np.uint64(16))
            | (payload[base + 3].astype(np.uint64) << np.uint64(24))
        )

    # interleaved rANS decode: one packed-table gather per step; while
    # EVERY block is still alive (k < min length — the common case,
    # most blocks are full) the masked bookkeeping is skipped entirely
    rows = np.arange(nb)
    rptr = np.zeros(nb, dtype=np.int64)
    remaining = nwords.copy()
    syms = np.zeros((nb, BLOCK_SIZE), dtype=np.uint16)
    maxn = int(an.max())
    min_an = int(an.min())
    mask_M = dec.mask_M[mid]
    log2_M = dec.log2_M[mid]
    packed = dec.packed_table()
    maxM = dec.slot_sym.shape[1]
    row_base = (mid * maxM).astype(np.uint64)
    MASK16 = np.uint64(0xFFFF)
    for k in range(maxn):
        slot = (states & mask_M) + row_base
        e = packed[slot.astype(np.int64)]
        f = (e >> np.uint64(16)) & MASK16
        nxt = f * (states >> log2_M) + (e & MASK16)
        if k < min_an:
            states = nxt
            syms[:, k] = (e >> np.uint64(32)).astype(np.uint16)
            need = (remaining > 0) & (states < NORM_LOWER_BOUND)
        else:
            alive = k < an
            states = np.where(alive, nxt, states)
            syms[rows[alive], k] = (e >> np.uint64(32)).astype(np.uint16)[alive]
            need = alive & (remaining > 0) & (states < NORM_LOWER_BOUND)
        if np.any(need):
            w = words[rows[need], rptr[need]]
            states[need] = (states[need] << np.uint64(OUTPUT_BASE_LOG2)) | w
            rptr[need] += 1
            remaining[need] -= 1

    # exceptions: consumed forward, little-endian per symbol
    eb = exception_bytes(syms)
    valid = np.arange(BLOCK_SIZE)[None, :] < an[:, None]
    eb = np.where(valid, eb, 0).astype(np.int64)
    epos = np.cumsum(eb, axis=1) - eb  # per-symbol start within exc stream
    estart = wstart + 4 * nwords
    vals = undo_mapping(syms.astype(np.uint64))
    for nbyt in (1, 2, 3):
        sel = eb == nbyt
        if not np.any(sel):
            continue
        r, c = np.nonzero(sel)
        base = estart[r] + epos[r, c]
        add = np.zeros(r.size, dtype=np.uint64)
        for i in range(nbyt):
            add |= payload[base + i].astype(np.uint64) << np.uint64(8 * i)
        vals[r, c] += add
    res = (vals - np.uint64(1)).astype(np.uint32)
    res[~valid] = 0
    out[ans_idx] = res
    sizes[ans_idx] = hdr_len + fsb + 4 * nwords + eb.sum(axis=1)
    return out, sizes


def model_zero_blocks(ns: np.ndarray) -> np.ndarray:
    """Decoded content of a model-0 block: all transformed values 0."""
    return np.zeros((len(ns), BLOCK_SIZE), dtype=np.uint32)
