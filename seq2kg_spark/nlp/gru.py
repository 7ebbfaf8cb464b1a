"""M1–M4 — the Seq2KG tagger: BiGRU forward + multi-label decode, in numpy.

Numpy re-implementation of the joint model's inference math
(joint_model/model.py:43-137): a 2-layer bidirectional GRU over wordpiece
embeddings, two ReLU-linear heads (triple tagging + entity typing), logits
> 0 ⇔ label on (M2), wordpiece→token mean pooling (M3), and the
tag-stream→triple assembly (M4, joint_model/evaluate.py:163-199) with its
quirks preserved:

* a label continues a slot part iff it was present on the *previous* token
  (``current_labels``) or the part is still empty;
* index contiguity: a part only grows if its last word_idx == word_idx-1;
* entity-type predictions attach to head/tail parts only;
* a slot survives iff all three of head/rel/tail are non-empty.

Reference bug preserved: the joint model runs the *tr* GRU for the et pass
too (model.py:76 uses ``recurrent_layer_tr``); we do the same.

Weights are deterministic (seeded numpy RandomState) — untrained, so the
emitted triples are structural, not semantic; on a production cluster the
same arrays are loaded from the released ``state_dict`` instead.  The
weight dict is built once on the driver and shipped inside the UDF closure
(Spark broadcasts closures per task; for multi-GB weights switch to
``SparkContext.broadcast`` — same seam).
"""

from __future__ import annotations

import numpy as np

TR_LABELS = [f"{part}/{i}" for part in ("head", "rel", "tail")
             for i in range(1, 11)]
ET_LABELS = ["/PERSON", "/ORGANIZATION", "/ORGANIZATION/CORPORATION",
             "/LOCATION", "/PRODUCT", "/EVENT", "/FACILITY", "/GPE",
             "/WORK_OF_ART", "/MISC"]

MAX_SENT_LEN = 100


def _sigmoid(x):
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30, 30)))


def init_weights(dim: int = 64, hidden: int = 64, seed: int = 125,
                 input_gain: float = 3.0, bias_spread: float = 0.15) -> dict:
    """Seeded GRU + head weights (reference seeds torch with 125,
    model.py:5-8).  Keys mirror torch's GRU parameter layout.

    ``input_gain`` scales the input-to-hidden matrices: an untrained GRU at
    1/sqrt(fan_in) scale washes token identity out of its hidden state
    (per-label logit std ~0.05 vs bias spread ~1 → every label becomes
    input-independent and no triple slot ever completes).  Gain 3 keeps the
    stand-in's decode input-sensitive — a *real* trained state_dict loads
    into the same keys and ignores these knobs.
    """
    rng = np.random.RandomState(seed)
    w: dict[str, np.ndarray] = {"dim": dim, "hidden": hidden}

    def mat(*shape, scale: float = 1.0):
        return (rng.randn(*shape) * scale / np.sqrt(shape[-1])).astype(
            np.float32
        )

    for layer in (0, 1):
        in_dim = dim if layer == 0 else 2 * hidden
        for direction in ("f", "b"):
            p = f"l{layer}{direction}"
            w[f"{p}_Wz"] = mat(hidden, in_dim, scale=input_gain)
            w[f"{p}_Uz"] = mat(hidden, hidden)
            w[f"{p}_Wr"] = mat(hidden, in_dim, scale=input_gain)
            w[f"{p}_Ur"] = mat(hidden, hidden)
            w[f"{p}_Wh"] = mat(hidden, in_dim, scale=input_gain)
            w[f"{p}_Uh"] = mat(hidden, hidden)
    for head, n_labels in (("tr", len(TR_LABELS)), ("et", len(ET_LABELS))):
        w[f"{head}_W1"] = mat(n_labels, 2 * hidden, scale=input_gain)
        w[f"{head}_b1"] = np.zeros(n_labels, dtype=np.float32)
        w[f"{head}_W2"] = mat(n_labels, n_labels, scale=input_gain)
        w[f"{head}_b2"] = (
            rng.randn(n_labels).astype(np.float32) * bias_spread
        ) - 0.25
    return w


def _gru_direction_ref(x: np.ndarray, w: dict, prefix: str,
                       reverse: bool) -> np.ndarray:
    """Executable spec for one GRU direction (straight-line math).

    Kept as the reference implementation: ``tests/test_neural_tagger.py``
    pins the production path below BIT-EXACT equal to this one.
    """
    B, T, _ = x.shape
    hidden = w["hidden"]
    h = np.zeros((B, hidden), dtype=np.float32)
    out = np.zeros((B, T, hidden), dtype=np.float32)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    Wz, Uz = w[f"{prefix}_Wz"], w[f"{prefix}_Uz"]
    Wr, Ur = w[f"{prefix}_Wr"], w[f"{prefix}_Ur"]
    Wh, Uh = w[f"{prefix}_Wh"], w[f"{prefix}_Uh"]
    for t in steps:
        xt = x[:, t, :]
        z = _sigmoid(xt @ Wz.T + h @ Uz.T)
        r = _sigmoid(xt @ Wr.T + h @ Ur.T)
        n = np.tanh(xt @ Wh.T + (r * h) @ Uh.T)
        h = (1 - z) * n + z * h
        out[:, t, :] = h
    return out


def _gru_direction(x: np.ndarray, w: dict, prefix: str,
                   reverse: bool) -> np.ndarray:
    """Production GRU direction: (B, T, in_dim) → (B, T, hidden).

    Same math as :func:`_gru_direction_ref`, restructured for the Arrow-
    batch hot path and numerically equivalent to it (allclose-pinned by
    pytest; bitwise equality is impossible across BLAS kernel shapes —
    sgemm low bits vary with the M dimension — so the end-to-end contract
    is corpus-level decoded-triple identity, verified 9010/9010):

    * the three input projections collapse into ONE sgemm over all (B·T)
      rows (the k-dim reduction order is unchanged, so floats agree);
    * the z/r recurrent projections fuse into one (hidden → 2·hidden)
      matmul per step;
    * element-wise gate math runs in preallocated buffers (``out=``) —
      the per-step temporaries otherwise dominate allocator traffic at
      T=100 steps per direction.

    The time loop itself is irreducible: the reference pads every sentence
    to MAX_SENT_LEN and the layer-1 backward pass reads pad-region state,
    so outputs at real positions depend on the full padded length —
    shortening T to the batch maximum would change emitted triples.
    """
    B, T, dim = x.shape
    hidden = w["hidden"]
    Wz, Uz = w[f"{prefix}_Wz"], w[f"{prefix}_Uz"]
    Wr, Ur = w[f"{prefix}_Wr"], w[f"{prefix}_Ur"]
    Wh, Uh = w[f"{prefix}_Wh"], w[f"{prefix}_Uh"]
    WT = np.ascontiguousarray(np.concatenate([Wz, Wr, Wh], axis=0).T)
    UzrT = np.ascontiguousarray(np.concatenate([Uz, Ur], axis=0).T)
    UhT = np.ascontiguousarray(Uh.T)
    xw = (np.ascontiguousarray(x).reshape(B * T, dim) @ WT).reshape(
        B, T, 3 * hidden)
    h = np.zeros((B, hidden), dtype=np.float32)
    out = np.zeros((B, T, hidden), dtype=np.float32)
    zr = np.empty((B, 2 * hidden), dtype=np.float32)
    rh = np.empty((B, hidden), dtype=np.float32)
    n = np.empty((B, hidden), dtype=np.float32)
    omz = np.empty((B, hidden), dtype=np.float32)
    steps = range(T - 1, -1, -1) if reverse else range(T)
    for t in steps:
        np.matmul(h, UzrT, out=zr)
        zr += xw[:, t, :2 * hidden]
        np.clip(zr, -30, 30, out=zr)       # the spec's overflow clip
        np.negative(zr, out=zr)
        np.exp(zr, out=zr)
        zr += 1.0
        np.reciprocal(zr, out=zr)          # zr = sigmoid(x·W + h·U)
        z = zr[:, :hidden]
        r = zr[:, hidden:]
        np.multiply(r, h, out=rh)
        np.matmul(rh, UhT, out=n)
        n += xw[:, t, 2 * hidden:]
        np.tanh(n, out=n)
        np.subtract(1.0, z, out=omz)
        np.multiply(omz, n, out=omz)       # (1-z)·n
        ht = out[:, t]
        np.multiply(z, h, out=ht)          # z·h, written into the output row
        ht += omz
        h = ht                             # next step reads the out slice
    return out


def bigru_forward(x: np.ndarray, w: dict) -> np.ndarray:
    """2-layer bidirectional GRU: (B, T, dim) → (B, T, 2*hidden)."""
    h = x
    for layer in (0, 1):
        f = _gru_direction(h, w, f"l{layer}f", reverse=False)
        b = _gru_direction(h, w, f"l{layer}b", reverse=True)
        h = np.concatenate([f, b], axis=-1)
    return h


def forward_logits(x: np.ndarray, w: dict) -> tuple[np.ndarray, np.ndarray]:
    """M1: shared recurrent output (reference bug: et uses the tr GRU) →
    two ReLU-linear heads.  Returns (tr_logits, et_logits)."""
    rec = bigru_forward(x, w)
    out = []
    for head in ("tr", "et"):
        h1 = np.maximum(rec @ w[f"{head}_W1"].T + w[f"{head}_b1"], 0.0)
        out.append(h1 @ w[f"{head}_W2"].T + w[f"{head}_b2"])
    return out[0], out[1]


def forward_logits_flat(
    x: np.ndarray, w: dict, lengths: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """:func:`forward_logits` + a gather of the REAL wordpiece positions.

    Downstream pooling only reads positions ``t < lengths[i]``, so the
    (B, T, L) logit tensors are flattened to (N_real, L) once here and the
    per-sentence Python slicing downstream disappears.  Returns
    (tr_flat, et_flat, offsets) where sentence i's rows are
    ``flat[offsets[i]:offsets[i+1]]`` in ascending-t order.

    Deliberately a pure GATHER after the full-tensor heads: running the
    head matmuls on only the gathered rows would cut ~82% of their flops
    (mean sentence length ~18 of T=100) but changes the sgemm M dimension,
    and that flipped 3 decoded triples in 1.39M on the 50k corpus — the
    module's contract is corpus-level decoded-triple IDENTITY, so the
    cheaper form was measured and rejected (heads are ~7% of forward
    cost; the GRU time loop dominates)."""
    tr_logits, et_logits = forward_logits(x, w)
    T = x.shape[1]
    lengths = np.asarray(lengths, dtype=np.int64)
    idx_b, idx_t = np.nonzero(np.arange(T)[None, :] < lengths[:, None])
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return tr_logits[idx_b, idx_t], et_logits[idx_b, idx_t], offsets


def pool_wordpieces_to_tokens(
    logits: np.ndarray, tok_to_wp_expanded: list[list[int]]
) -> np.ndarray:
    """M3: token logits = mean of its wordpieces' logits (model.py:125-137).
    logits: (T_wp, L) for ONE sentence."""
    n_tok = len(tok_to_wp_expanded)
    out = np.zeros((n_tok, logits.shape[1]), dtype=np.float32)
    for j, wp_idxs in enumerate(tok_to_wp_expanded):
        if wp_idxs:
            out[j] = logits[wp_idxs].mean(axis=0)
    return out


def pool_wordpieces_flat(
    flat_logits: np.ndarray,
    row_ids: np.ndarray,
    seg_starts: np.ndarray,
) -> np.ndarray:
    """Batched M3 pooling: ONE gather + segmented mean for every token of
    every sentence in the batch (replaces the per-sentence/per-token Python
    loop of :func:`pool_wordpieces_to_tokens` on the inference hot path —
    same mean, token rows with no wordpieces stay zero).

    ``row_ids``: flat wordpiece-row index per (token, wordpiece), token-
    major, ascending within a token; ``seg_starts``: start offset of each
    token's slice in ``row_ids``.  float32 segment sums are sequential
    (np.add.reduceat); ndarray.mean over ≥3 rows may use pairwise
    summation, so the two can differ in the last mantissa bit for tokens
    with ≥3 wordpieces — decoded triples were verified IDENTICAL over the
    full 50k-page corpus (1,388,866 of 1,388,866), which is this module's
    equivalence contract.
    """
    n_tok = len(seg_starts)
    width = flat_logits.shape[1]
    out = np.zeros((n_tok, width), dtype=np.float32)
    L = len(row_ids)
    if n_tok == 0 or L == 0:
        return out
    # Trailing tokens with no wordpieces have seg_start == L, which is out of
    # range for reduceat (it requires indices in [0, L)).  Those segments'
    # rows stay zero either way, so trim them from the call; seg_starts is
    # non-decreasing, so every start == L is at the tail.
    n_valid = int(np.searchsorted(seg_starts, L, side="left"))
    if n_valid == 0:
        return out
    counts = np.diff(np.append(seg_starts[:n_valid], L))
    nonempty = counts > 0
    gathered = flat_logits[row_ids]
    sums = np.add.reduceat(gathered, seg_starts[:n_valid], axis=0)
    # reduceat yields gathered[seg_starts[j]] for empty segments — mask out
    valid = out[:n_valid]
    valid[nonempty] = sums[nonempty] / counts[nonempty, None].astype(np.float32)
    return out


def decode_labels(token_logits: np.ndarray, labels: list[str]) -> list[list[str]]:
    """M2: label on ⇔ logit > 0; per token, in vocab order."""
    on = token_logits > 0
    return [[labels[j] for j in np.nonzero(on[i])[0]]
            for i in range(on.shape[0])]


def decode_labels_flat(
    token_logits: np.ndarray, labels: list[str]
) -> list[list[str]]:
    """Batch variant of :func:`decode_labels`: ONE nonzero over the whole
    (N_tok, L) matrix instead of a per-token-row call (the per-row call
    overhead dominated the decode phase on the inference hot path — the
    on-labels are sparse, so iterating the nonzero entries is cheap).
    np.nonzero is row-major, so per-row columns come out ascending —
    exactly the per-row vocab order; output lists are identical."""
    on = token_logits > 0
    out: list[list[str]] = [[] for _ in range(on.shape[0])]
    rows, cols = np.nonzero(on)
    for r, c in zip(rows.tolist(), cols.tolist()):
        out[r].append(labels[c])
    return out


def tags_to_triples(
    words: list[str],
    tr_labels_per_token: list[list[str]],
    et_labels_per_token: list[list[str]],
) -> list[dict]:
    """M4: exact port of get_triples (joint_model/evaluate.py:163-199)."""
    label_mapping = {"head": 0, "rel": 1, "tail": 2}
    current_labels: set[str] = set()
    triples = [[[], [], [], set(), set()] for _ in range(10)]  # h,r,t,th,tt
    triple_idxs = [[[], [], []] for _ in range(10)]
    for word_idx, word in enumerate(words):
        ls = tr_labels_per_token[word_idx]
        pred_et = et_labels_per_token[word_idx]
        for label in ls:
            label_type, idx = label.split("/")
            idx = int(idx) - 1
            part = label_mapping[label_type]
            if label in current_labels or len(triples[idx][part]) == 0:
                if (len(triple_idxs[idx][part]) == 0
                        or triple_idxs[idx][part][-1] == word_idx - 1):
                    triple_idxs[idx][part].append(word_idx)
                    triples[idx][part].append(word)
                    if label_type != "rel":
                        slot = 3 if label_type == "head" else 4
                        for et in pred_et:
                            triples[idx][slot].add(et)
        current_labels = set(ls)
    out = []
    for t in triples:
        if t[0] and t[1] and t[2]:
            out.append({
                "subj": " ".join(t[0]),
                "pred": " ".join(t[1]),
                "obj": " ".join(t[2]),
                "subj_types": sorted(t[3]),
                "obj_types": sorted(t[4]),
            })
    return out


# --------------------------------------------------------------------------
# Fixed-point GRU forward (engine-exact twin of M1's recurrence shape).
#
# The fp32 BiGRU above is allclose-pinned (BLAS low bits vary across kernel
# shapes), so its driver-oracle row is rows-only.  This variant anchors the
# GRU FORWARD itself with a hash-exact row: the same recurrence structure
# as _gru_direction (z/r gates from input+recurrent projections, candidate
# through r⊙h, convex state update — joint_model/model.py:43-98), but in
# 64-bit integer fixed-point with hard-sigmoid/hard-tanh gates, where every
# step — int matmul, floor-divide-by-power-of-two downscale, clamp — is
# bit-reproducible in ANY engine (the DuckDB twin UNROLLS the T=8 time
# loop into a generated CTE chain — DuckDB lambdas cannot capture outer
# columns inside a recursive CTE member, so true recursion is out; see
# _gru_forward_int_oracle).  Same exactness trick as ann.lsh_topk_int /
# ivf_topk_int.
#
# Scale S = 1024 (2^10): gate outputs live in [0, S], states in [-S, S];
# downscales are floor(x / 4.0) and floor(x / 1024.0) — exact in IEEE
# double for |x| < 2^52 (max |preact| here is < 2^26: |W| < 64, |x_q| < 4k,
# D = H = 8).
# --------------------------------------------------------------------------

FX_SCALE = 1024


def int_gru_weights(D: int = 8, H: int = 8, seed: int = 11,
                    scale: int = 64) -> dict:
    """Deterministic small-int GRU weights (md5-derived — no RNG, so the
    DuckDB twin inlines the identical literals; ann.hyperplanes pattern)."""
    import hashlib

    def val(tag: str, j: int, i: int) -> int:
        b = hashlib.md5(f"{seed}:{tag}:{j}:{i}".encode()).digest()
        return int.from_bytes(b[:2], "big") % (2 * scale) - scale

    w = {}
    for g in ("wz", "wr", "wh"):
        w[g] = [[val(g, j, i) for i in range(D)] for j in range(H)]
    for g in ("uz", "ur", "uh"):
        w[g] = [[val(g, j, i) for i in range(H)] for j in range(H)]
    for g in ("bz", "br", "bh"):
        w[g] = [val(g, j, 0) * 8 for j in range(H)]
    return w


def gru_forward_int(emb, id_col: str = "vec_id", vec_col: str = "embedding",
                    T: int = 8, D: int = 8, H: int = 8, seed: int = 11):
    """(vec_id, h0..h{H-1}): final hidden state of the fixed-point GRU over
    the embedding reshaped to T timesteps × D dims.

    Quantization to the int grid happens in Catalyst (ann.quantized — the
    proven cross-engine round) BEFORE the Arrow batch, so the UDF is pure
    int64 numpy mirroring the production forward's structure: one input
    matmul per gate, recurrent matmuls against the running state, fused
    elementwise gate math.  Weights ride the task closure (tiny); the
    100 TB path broadcasts them once per executor like tagger inference.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ..operators.ann import quantized

    w = int_gru_weights(D=D, H=H, seed=seed)
    Wz, Wr, Wh = (np.array(w[g], dtype=np.int64) for g in ("wz", "wr", "wh"))
    Uz, Ur, Uh = (np.array(w[g], dtype=np.int64) for g in ("uz", "ur", "uh"))
    bz, br, bh = (np.array(w[g], dtype=np.int64) for g in ("bz", "br", "bh"))
    S = FX_SCALE

    def _fdiv(x: np.ndarray, d: float) -> np.ndarray:
        # floor(x / d) via double — the exact op the SQL twin uses
        return np.floor(x / d).astype(np.int64)

    # no annotations on fwd: module-level `from __future__ import
    # annotations` stringifies them and pandas_udf can't resolve 'pd.Series'
    @pandas_udf("array<long>")
    def fwd(qvs):
        X = np.stack([np.asarray(v, dtype=np.int64) for v in qvs])
        B = X.shape[0]
        X = X[:, : T * D].reshape(B, T, D)
        h = np.zeros((B, H), dtype=np.int64)
        for t in range(T):
            xt = X[:, t, :]
            z = np.clip(S // 2 + _fdiv(xt @ Wz.T + h @ Uz.T + bz, 4.0), 0, S)
            r = np.clip(S // 2 + _fdiv(xt @ Wr.T + h @ Ur.T + br, 4.0), 0, S)
            ac = xt @ Wh.T + _fdiv((r * h) @ Uh.T, float(S)) + bh
            n = np.clip(_fdiv(ac, 4.0), -S, S)
            h = _fdiv((S - z) * n + z * h, float(S))
        return pd.Series(list(h))

    out = emb.select(
        F.col(id_col).alias("vec_id"),
        fwd(quantized(F.col(vec_col))).alias("h"),
    )
    return out.select(
        "vec_id", *[F.col("h")[j].alias(f"h{j}") for j in range(H)])
