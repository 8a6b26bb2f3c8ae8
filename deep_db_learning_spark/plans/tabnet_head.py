"""TabNet decision-head training through the stack trainer's
``fit_fn`` seam (VERDICT r5 #5).

The reference trains the FULL TabNet (``nn/models/tabular/tabnet.py:
15-308``). Torch is not in this container, so the split here is: the
encoder dataflow (``operators/kernels.tabnet_encode`` — attentive
sparsemax masks, GLU feature transformers, prior decay) runs FROZEN at
its seeded initialization, in ``exact`` mode (every GEMM a fixed-order
rank-1 accumulation, so the encoding is Arrow-batch-independent), and
the DECISION HEAD — the linear map from aggregated decision features to
class logits, the reference's final ``Linear`` — trains in-engine under
the repo's bit-determinism contract: per-row gradients dec9-quantized
in an Arrow kernel, folded with exact decimal sums (associative ⇒
partitioning-independent), SGD on the driver. The loss trajectory is
replayed bit-for-bit by the independent twin
(``plans/train_oracle._tabnet_head_losses``).

Wiring: :func:`train_tabnet_head` delegates assembly to
``train_relational_stack`` and injects itself as the ``fit_fn`` — the
exact hand-off a TorchDistributor-based full-encoder trainer would use,
now exercised end-to-end in-engine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..checkpoint import cut_lineage
from ..functions.exact_agg import DECIMAL_TYPE
from .stack import _require_nonnull_sums
from .training import TrainResult, _dec9_py, row_logits

# shared CONFIG with the oracle twin and the driver query (the
# *_BENCH_CONFIG convention): hyperparameters can never diverge
TABNET_HEAD_BENCH_CONFIG = {
    "epochs": 4,
    "lr": 0.5,
    "l2": 1e-4,
    "out_channels": 8,
    "num_layers": 2,
    "feat_channels": 8,
    "attn_channels": 8,
    "neighbor_budget": 5,
}


def tabnet_feature_expr(card: int):
    """The flat tabular input row the encoder consumes: one-hot of the
    F12 code (NULL-code 0 included) ++ the standardized numerics —
    identical construction in the twin."""
    onehot = F.array(
        *[(F.col("code") == i).cast("double") for i in range(card)]
    )
    return F.concat(onehot, F.col("nums"))


def _fit_linear_head(
    frame, enc, d: int, k: int, epochs, lr, l2, seed, task: str = "classification"
) -> TrainResult:
    """Shared decision-head GD over a frozen encoder column ``enc``
    (an ``array<double>`` of width ``d``): encode ONCE into a
    materialized frame, then per epoch one Spark job folds the
    dec9-quantized per-row gradients as exact decimals; SGD on the
    driver. ``task="classification"`` (softmax CE, integer labels,
    exact-integer-count accuracy eval) or ``"regression"`` (k=1 linear
    head, half-squared error on the train-standardized double label,
    decimal-fold per-split MSE eval — the same conventions as the stack
    trainer's regression branch). Used by both the TabNet and Trompt
    heads — and replayed by their twins."""
    regression = task == "regression"
    full = cut_lineage(
        frame.select("split", "label", enc.alias("x")), eager=True
    )
    tr = full.filter(F.col("split") == "train").select("x", "label")
    n = tr.count()
    rng = np.random.default_rng(seed)
    W = rng.uniform(-0.5, 0.5, size=(d, k)) * 0.1
    b = np.zeros(k)
    glen = 1 + d * k + k

    losses: list[float] = []
    for _ in range(epochs):
        from decimal import Decimal

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        Wc, bc = W.copy(), b.copy()

        def grad_fn(x, label):
            X = np.vstack(x.to_list())
            if regression:
                y = label.to_numpy(dtype=np.float64)
                pred = row_logits(X, Wc, bc)[:, 0]
                r = pred - y
                loss = 0.5 * r * r
                resid = r[:, None]
            else:
                y = label.to_numpy(dtype=np.int64)
                logits = row_logits(X, Wc, bc)
                logits = logits - logits.max(axis=1, keepdims=True)
                ex = np.exp(logits)
                P = ex / ex.sum(axis=1, keepdims=True)
                rows_idx = np.arange(len(y))
                loss = -np.log(P[rows_idx, y])
                resid = P.copy()
                resid[rows_idx, y] -= 1.0
            out = np.concatenate(
                [
                    loss[:, None],
                    (X[:, :, None] * resid[:, None, :]).reshape(len(X), -1),
                    resid,
                ],
                axis=1,
            )
            return pd.Series(
                [[_dec9_py(Decimal, v) for v in row] for row in out]
            )

        grad_fn.__annotations__ = {
            "x": pd.Series,
            "label": pd.Series,
            "return": pd.Series,
        }
        udf = pandas_udf(grad_fn, f"array<{DECIMAL_TYPE}>")
        tot = (
            tr.select(udf("x", "label").alias("g"))
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at("g", i + 1)).alias(f"v{i}")
                    for i in range(glen)
                ]
            )
            .first()
        )
        # NULL sum over a non-empty frame = decimal overflow (the
        # stack trainer's guard — a silent zero gradient otherwise)
        _require_nonnull_sums(tot, glen)
        loss_sum = float(tot["v0"] or 0)
        GW = np.array(
            [float(tot[f"v{1 + i}"] or 0) for i in range(d * k)]
        ).reshape(d, k)
        gb = np.array(
            [float(tot[f"v{1 + d * k + i}"] or 0) for i in range(k)]
        )
        losses.append(loss_sum / n + 0.5 * l2 * float((W * W).sum()))
        W -= lr * (GW / n + l2 * W)
        b -= lr * (gb / n)

    # eval: argmax over the materialized encodings — exact integer
    # counts, so the metric is partitioning-independent
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Wc, bc = W.copy(), b.copy()

    def pred_fn(x):
        X = np.vstack(x.to_list())
        out = row_logits(X, Wc, bc)
        if regression:
            return pd.Series(out[:, 0])
        return pd.Series(np.argmax(out, axis=1).astype(np.int64))

    pred_fn.__annotations__ = {"x": pd.Series, "return": pd.Series}
    pudf = pandas_udf(pred_fn, "double" if regression else "bigint")
    preds = full.select("split", "label", pudf("x").alias("pred"))
    if regression:
        # decimal fold: partitioning-independent MSE in standardized-
        # label space (the convention of stack._split_metric)
        err = F.col("pred") - F.col("label")
        rows = (
            preds.groupBy("split")
            .agg(
                (
                    F.sum((err * err).cast(DECIMAL_TYPE)).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .collect()
        )
        accuracy = {r["split"]: r["m"] for r in rows}
    else:
        rows = (
            preds.groupBy("split")
            .agg(
                F.sum(
                    (F.col("pred") == F.col("label")).cast("bigint")
                ).alias("h"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        accuracy = {r["split"]: r["h"] / r["n"] for r in rows}
    return TrainResult(losses=losses, accuracy=accuracy, params={"W": W, "b": b})


def train_tabnet_head(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 4,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    out_channels: int = 8,
    num_layers: int = 2,
    feat_channels: int = 8,
    attn_channels: int = 8,
    task: str = "classification",
) -> TrainResult:
    """Full-batch GD on the TabNet decision head over frozen seeded
    encoder features — see the module docstring for the contract.
    ``task="regression"`` swaps in the k=1 linear / half-squared-error
    head on the train-standardized double label."""
    from ..operators.kernels import tabnet_encode
    from .stack import ORDERS_LAYER_SPEC, train_relational_stack

    def fit(frame, frames, meta):
        card = meta["n_codes"]
        k = meta["n_classes"]
        enc = tabnet_encode(
            tabnet_feature_expr(card), out_channels, num_layers,
            feat_channels, attn_channels, seed=seed, exact=True,
        )
        return _fit_linear_head(
            frame, enc, out_channels, k, epochs, lr, l2, seed, task=task
        )

    return train_relational_stack(
        tables,
        primary_keys,
        foreign_keys,
        layers=(ORDERS_LAYER_SPEC,),
        target=target,
        cat_col=cat_col,
        num_cols=num_cols,
        seed=seed,
        neighbor_budget=neighbor_budget,
        task=task,
        fit_fn=fit,
    )


# ------------------------------------------------------- Trompt head
#
# Same split for N23 (reference ``nn/models/tabular/trompt.py:9-82``):
# the prompt-bank encoder runs frozen at its seeded init — per row,
# column embeddings (the N1/N2 seeded shapes: cat lookup + per-numeric
# x·w+b) feed the shared ``trompt_forward`` kernel, and the stacked
# prompts MEAN-POOL into one feature vector (the reference's
# TromptDecoder applies one shared linear per layer and averages the
# per-layer predictions — with a shared linear that composes to a
# linear over the mean feature, which is exactly what trains here) —
# while the decision head trains in-engine via the same decimal-fold
# GD as the TabNet head. Twin: ``_trompt_head_losses``.

TROMPT_HEAD_BENCH_CONFIG = {
    "epochs": 4,
    "lr": 0.5,
    "l2": 1e-4,
    "ch": 8,
    "num_prompts": 4,
    "num_layers": 2,
    "neighbor_budget": 5,
}


def trompt_root_encoding_rows(
    codes, nums, card: int, ch: int, num_prompts: int, num_layers: int, seed: int
):
    """[batch] codes + [batch, m] nums → [batch, ch] mean-pooled
    Trompt encodings — the SHARED kernel (engine UDF and twin run this
    identical function). Every per-row op has batch-independent
    shapes, so the encoding never depends on the Arrow split."""
    from ..operators.kernels import _seeded_matrix, trompt_forward

    E = _seeded_matrix((seed, "cat"), card, ch, 0.5)
    m_num = nums.shape[1]
    Wn = [_seeded_matrix((seed, "num", j), 1, ch, 0.5)[0] for j in range(m_num)]
    Bn = [_seeded_matrix((seed, "numb", j), 1, ch, 0.5)[0] for j in range(m_num)]
    out = np.empty((len(codes), ch))
    for i in range(len(codes)):
        cols = [E[int(codes[i])]] + [
            nums[i, j] * Wn[j] + Bn[j] for j in range(m_num)
        ]
        st = trompt_forward(np.vstack(cols), num_prompts, num_layers, seed)
        out[i] = st.mean(axis=0)
    return out


def train_trompt_head(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 4,
    lr: float = 0.5,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    ch: int = 8,
    num_prompts: int = 4,
    num_layers: int = 2,
    task: str = "classification",
) -> TrainResult:
    """Decision-head GD over frozen seeded Trompt encodings, through
    the stack trainer's fit_fn hand-off — see the section comment.
    ``task="regression"``: the k=1 half-squared-error head."""
    from .stack import ORDERS_LAYER_SPEC, train_relational_stack

    def fit(frame, frames, meta):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        card = meta["n_codes"]
        k = meta["n_classes"]

        def enc_fn(code, nums):
            codes = code.to_numpy(dtype=np.int64)
            M = np.vstack(nums.to_list()).astype(np.float64)
            out = trompt_root_encoding_rows(
                codes, M, card, ch, num_prompts, num_layers, seed
            )
            return pd.Series([row.tolist() for row in out])

        enc_fn.__annotations__ = {
            "code": pd.Series,
            "nums": pd.Series,
            "return": pd.Series,
        }
        udf = pandas_udf(enc_fn, "array<double>")
        return _fit_linear_head(
            frame, udf("code", "nums"), ch, k, epochs, lr, l2, seed, task=task
        )

    return train_relational_stack(
        tables,
        primary_keys,
        foreign_keys,
        layers=(ORDERS_LAYER_SPEC,),
        target=target,
        cat_col=cat_col,
        num_cols=num_cols,
        seed=seed,
        neighbor_budget=neighbor_budget,
        task=task,
        fit_fn=fit,
    )


# ------------------------------------------- GLU-level training (r8)
#
# One level deeper than the decision head (VERDICT r7 #6): the LAST
# GLU feature transformer of the TabNet encoder
# (``operators/kernels.tabnet_forward`` — the block whose ReLU'd value
# half feeds the decision accumulator) now trains JOINTLY with the
# head, in-engine, under the same bit-determinism contract. Everything
# upstream (attentive masks, earlier GLU blocks, the prior chain) stays
# frozen at the seeded init — those states are encoded ONCE
# (``tabnet_penultimate_encode``) into a materialized frame, so each
# epoch differentiates a two-matmul + GLU sub-network over fixed
# inputs: per-row gradients dec9-quantized in the Arrow kernel, folded
# as exact decimals, SGD on the driver. Twin:
# ``plans/train_oracle._tabnet_glu_losses`` replays the trajectory
# bit-for-bit. Full-encoder training (masks included) remains the
# ``fit_fn``/TorchDistributor hand-off — sparsemax's sort makes its
# backward a different class of kernel; see COVERAGE.md.

TABNET_GLU_BENCH_CONFIG = {
    "epochs": 3,
    "lr": 0.2,
    "l2": 1e-4,
    "out_channels": 8,
    "num_layers": 2,
    "feat_channels": 8,
    "attn_channels": 8,
    "neighbor_budget": 5,
}


def glu_seed_params(
    in_ch: int,
    num_layers: int,
    feat_channels: int,
    attn_channels: int,
    out_channels: int,
    seed: int,
):
    """Seeded initial values of the trainable slice — the last GLU
    feature transformer's VALUE and GATE columns that reach the
    decision accumulator (its attention-half columns receive zero
    gradient in the last layer: their output is discarded) — plus the
    frozen ``w_out``. Slicing the SAME ``_seeded_matrix`` draws
    ``tabnet_forward`` makes iteration 0 of the trained network equal
    the frozen encoder exactly."""
    import math as _math

    from ..operators.kernels import _seeded_matrix

    split = feat_channels + attn_channels
    scale = 1.0 / _math.sqrt(max(in_ch, 1))
    wL = _seeded_matrix((seed, "feat", num_layers), in_ch, 2 * split, scale)
    bL = _seeded_matrix((seed, "featb", num_layers), 1, 2 * split, scale)[0]
    w_out = _seeded_matrix(
        (seed, "out"), feat_channels, out_channels, scale
    )
    fc, sp = feat_channels, split
    return (
        wL[:, :fc].copy(),
        bL[:fc].copy(),
        wL[:, sp : sp + fc].copy(),
        bL[sp : sp + fc].copy(),
        w_out,
    )


def glu_head_forward(Z, A, Wv, bv, Wg, bg, Wh, bh, w_out):
    """Forward of the trainable sub-network over the frozen states:
    GLU(Z) → ReLU → accumulate onto A → frozen ``w_out`` → head
    logits. SHARED by the engine kernel and the twin (the
    ``row_logits`` precedent); every GEMM is the fixed-order exact
    fold, so the values are Arrow-batch-independent. Returns
    ``(gs, gl, acc, enc, logits)``."""
    from .training import row_logits

    av = row_logits(Z, Wv, bv)
    ag = row_logits(Z, Wg, bg)
    gs = 1.0 / (1.0 + np.exp(-ag))
    gl = av * gs
    acc = A + np.maximum(gl, 0.0)
    enc = row_logits(acc, w_out, np.zeros(w_out.shape[1]))
    logits = row_logits(enc, Wh, bh)
    return gs, gl, acc, enc, logits


def _fit_glu_head(
    frame, states, in_ch: int, fc: int, out_channels: int, k: int,
    epochs: int, lr: float, l2: float, seed: int,
    num_layers: int = 2, attn_channels: int = 8,
) -> TrainResult:
    """Joint GD on (last-GLU value/gate columns, decision head) over
    the frozen penultimate states ``states`` (``array<double>`` of
    ``z ++ acc_prev``). Classification only (softmax CE) — the mode the
    driver trajectory pins."""
    full = cut_lineage(
        frame.select("split", "label", states.alias("x")), eager=True
    )
    tr = full.filter(F.col("split") == "train").select("x", "label")
    n = tr.count()
    Wv, bv, Wg, bg, w_out = glu_seed_params(
        in_ch, num_layers, fc, attn_channels, out_channels, seed,
    )
    rng = np.random.default_rng(seed)
    Wh = rng.uniform(-0.5, 0.5, size=(out_channels, k)) * 0.1
    bh = np.zeros(k)
    glen = 1 + 2 * (in_ch * fc + fc) + out_channels * k + k

    losses: list[float] = []
    for _ in range(epochs):
        from decimal import Decimal

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        Wvc, bvc, Wgc, bgc = Wv.copy(), bv.copy(), Wg.copy(), bg.copy()
        Whc, bhc = Wh.copy(), bh.copy()

        def grad_fn(x, label):
            M = np.vstack(x.to_list())
            Z, A = M[:, :in_ch], M[:, in_ch:]
            y = label.to_numpy(dtype=np.int64)
            gs, gl, acc, enc, logits = glu_head_forward(
                Z, A, Wvc, bvc, Wgc, bgc, Whc, bhc, w_out
            )
            logits = logits - logits.max(axis=1, keepdims=True)
            ex = np.exp(logits)
            P = ex / ex.sum(axis=1, keepdims=True)
            ridx = np.arange(len(y))
            loss = -np.log(P[ridx, y])
            resid = P.copy()
            resid[ridx, y] -= 1.0
            d_enc = resid @ Whc.T
            d_acc = d_enc @ w_out.T
            d_gl = d_acc * (gl > 0)
            d_av = d_gl * gs
            d_ag = d_gl * (gl * (1.0 - gs))  # = av·σ·(1−σ) since gl=av·σ
            out = np.concatenate(
                [
                    loss[:, None],
                    (Z[:, :, None] * d_av[:, None, :]).reshape(len(y), -1),
                    d_av,
                    (Z[:, :, None] * d_ag[:, None, :]).reshape(len(y), -1),
                    d_ag,
                    (enc[:, :, None] * resid[:, None, :]).reshape(len(y), -1),
                    resid,
                ],
                axis=1,
            )
            return pd.Series(
                [[_dec9_py(Decimal, v) for v in row] for row in out]
            )

        grad_fn.__annotations__ = {
            "x": pd.Series,
            "label": pd.Series,
            "return": pd.Series,
        }
        udf = pandas_udf(grad_fn, f"array<{DECIMAL_TYPE}>")
        tot = (
            tr.select(udf("x", "label").alias("g"))
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(F.element_at("g", i + 1)).alias(f"v{i}")
                    for i in range(glen)
                ],
            )
            .first()
        )
        _require_nonnull_sums(tot, glen)

        def seg(off, size):
            return np.array(
                [float(tot[f"v{off + i}"] or 0) for i in range(size)]
            )

        o = 1
        GWv = seg(o, in_ch * fc).reshape(in_ch, fc); o += in_ch * fc
        gbv = seg(o, fc); o += fc
        GWg = seg(o, in_ch * fc).reshape(in_ch, fc); o += in_ch * fc
        gbg = seg(o, fc); o += fc
        GWh = seg(o, out_channels * k).reshape(out_channels, k)
        o += out_channels * k
        gbh = seg(o, k)
        loss_sum = float(tot["v0"] or 0)
        losses.append(
            loss_sum / n
            + 0.5
            * l2
            * float((Wh * Wh).sum() + (Wv * Wv).sum() + (Wg * Wg).sum())
        )
        Wv -= lr * (GWv / n + l2 * Wv)
        bv -= lr * (gbv / n)
        Wg -= lr * (GWg / n + l2 * Wg)
        bg -= lr * (gbg / n)
        Wh -= lr * (GWh / n + l2 * Wh)
        bh -= lr * (gbh / n)

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Wvc, bvc, Wgc, bgc = Wv.copy(), bv.copy(), Wg.copy(), bg.copy()
    Whc, bhc = Wh.copy(), bh.copy()

    def pred_fn(x):
        M = np.vstack(x.to_list())
        *_rest, logits = glu_head_forward(
            M[:, :in_ch], M[:, in_ch:], Wvc, bvc, Wgc, bgc, Whc, bhc, w_out
        )
        return pd.Series(np.argmax(logits, axis=1).astype(np.int64))

    pred_fn.__annotations__ = {"x": pd.Series, "return": pd.Series}
    pudf = pandas_udf(pred_fn, "bigint")
    rows = (
        full.select("split", "label", pudf("x").alias("pred"))
        .groupBy("split")
        .agg(
            F.sum((F.col("pred") == F.col("label")).cast("bigint")).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    accuracy = {r["split"]: r["h"] / r["n"] for r in rows}
    return TrainResult(
        losses=losses,
        accuracy=accuracy,
        params={"Wv": Wv, "bv": bv, "Wg": Wg, "bg": bg, "W": Wh, "b": bh},
    )


def train_tabnet_glu(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 3,
    lr: float = 0.2,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    out_channels: int = 8,
    num_layers: int = 2,
    feat_channels: int = 8,
    attn_channels: int = 8,
) -> TrainResult:
    """Joint GD on the TabNet decision head AND the last GLU feature
    transformer, over frozen upstream states — the r8 one-level
    extension of :func:`train_tabnet_head` (see the section
    comment)."""
    from ..operators.kernels import tabnet_penultimate_encode
    from .stack import ORDERS_LAYER_SPEC, train_relational_stack

    def fit(frame, frames, meta):
        card = meta["n_codes"]
        k = meta["n_classes"]
        # nums carries the stack-assembled aggregate features too, so
        # the input width is measured, not derived from num_cols
        in_ch = card + int(frame.select(F.size("nums")).first()[0])
        states = tabnet_penultimate_encode(
            tabnet_feature_expr(card), out_channels, num_layers,
            feat_channels, attn_channels, seed=seed,
        )
        return _fit_glu_head(
            frame, states, in_ch, feat_channels, out_channels, k,
            epochs, lr, l2, seed,
            num_layers=num_layers, attn_channels=attn_channels,
        )

    return train_relational_stack(
        tables,
        primary_keys,
        foreign_keys,
        layers=(ORDERS_LAYER_SPEC,),
        target=target,
        cat_col=cat_col,
        num_cols=num_cols,
        seed=seed,
        neighbor_budget=neighbor_budget,
        fit_fn=fit,
    )


# ---------------------------------------- Trompt layer training (r8)
#
# The N23 mirror of the TabNet GLU extension: the LAST prompt-bank
# attention layer of the Trompt encoder trains JOINTLY with the
# decision head. Softmax attention has a smooth backward (unlike
# sparsemax's sort), so the per-row chain — head → mean-pool → the
# residual prompt update p_out = p_in + softmax((p_in·W)·mᵀ/√ch)·m —
# differentiates with fixed row-shape matmuls; everything upstream
# (column embeddings, earlier layers, the seeded prompt bank) stays
# frozen. W initializes at the SEEDED conv weight, so iteration 0
# equals the frozen encoder exactly. Twin:
# ``plans/train_oracle._trompt_layer_losses``.

TROMPT_LAYER_BENCH_CONFIG = {
    "epochs": 3,
    "lr": 0.3,
    "l2": 1e-4,
    "ch": 8,
    "num_prompts": 4,
    "num_layers": 2,
    "neighbor_budget": 5,
}


def trompt_column_embeddings(code: int, nums, card: int, ch: int, seed: int):
    """One row's [n_cols, ch] column-embedding matrix — the identical
    seeded construction ``trompt_root_encoding_rows`` uses (cat lookup
    + per-numeric x·w+b)."""
    from ..operators.kernels import _seeded_matrix

    E = _seeded_matrix((seed, "cat"), card, ch, 0.5)
    cols = [E[int(code)]]
    for j, x in enumerate(nums):
        Wn = _seeded_matrix((seed, "num", j), 1, ch, 0.5)[0]
        Bn = _seeded_matrix((seed, "numb", j), 1, ch, 0.5)[0]
        cols.append(float(x) * Wn + Bn)
    return np.vstack(cols)


def trompt_layer_states(m, num_prompts: int, num_layers: int, seed: int):
    """Frozen upstream of the trainable layer: run layers
    ``0 .. L−2`` exactly as ``trompt_forward`` does and return
    ``(prompt_in, frozen_sum)`` — the last layer's input bank and the
    column-sum of all FROZEN stacked prompt rows (what the mean-pooled
    encoding adds to the trainable block's rows)."""
    import math as _math

    from ..operators.kernels import _seeded_matrix

    ch = m.shape[1]
    prompt = _seeded_matrix((seed, "prompt"), num_prompts, ch, 0.01)
    frozen = np.zeros(ch)
    for i in range(num_layers - 1):
        w = _seeded_matrix((seed, "conv", i), ch, ch, 1.0 / _math.sqrt(ch))
        scores = (prompt @ w) @ m.T / _math.sqrt(ch)
        scores -= scores.max(axis=1, keepdims=True)
        imp = np.exp(scores)
        imp /= imp.sum(axis=1, keepdims=True)
        prompt = prompt + imp @ m
        frozen += prompt.sum(axis=0)
    return prompt, frozen


def trompt_layer_forward(m, p_in, frozen_sum, W, Wh, bh, L: int, P: int):
    """The trainable sub-network: last attention layer + mean-pool +
    head. SHARED by the engine kernel and the twin. Returns
    ``(imp, enc, logits)``."""
    import math as _math

    ch = m.shape[1]
    scores = (p_in @ W) @ m.T / _math.sqrt(ch)
    scores = scores - scores.max(axis=1, keepdims=True)
    e = np.exp(scores)
    imp = e / e.sum(axis=1, keepdims=True)
    p_out = p_in + imp @ m
    enc = (frozen_sum + p_out.sum(axis=0)) / (L * P)
    logits = enc @ Wh + bh
    return imp, enc, logits


def trompt_layer_row_grads(
    m, p_in, frozen_sum, W, Wh, bh, y: int, L: int, P: int
):
    """One row's loss + gradients for (W, Wh, bh) — the chain in the
    section comment. Returns the flat gradient vector
    ``[loss] ++ dW ++ dWh ++ dbh`` (pre-quantization)."""
    import math as _math

    ch = m.shape[1]
    k = Wh.shape[1]
    imp, enc, logits = trompt_layer_forward(
        m, p_in, frozen_sum, W, Wh, bh, L, P
    )
    logits = logits - logits.max()
    ex = np.exp(logits)
    Pr = ex / ex.sum()
    loss = -np.log(Pr[y])
    resid = Pr.copy()
    resid[y] -= 1.0
    d_enc = Wh @ resid
    d_p2 = np.tile(d_enc / (L * P), (P, 1))
    d_imp = d_p2 @ m.T
    d_scores = imp * (d_imp - (d_imp * imp).sum(axis=1, keepdims=True))
    d_q = d_scores @ m / _math.sqrt(ch)
    dW = p_in.T @ d_q
    dWh = np.outer(enc, resid)
    return np.concatenate([[loss], dW.ravel(), dWh.ravel(), resid])


def train_trompt_layer(
    tables,
    primary_keys,
    foreign_keys,
    target=("customer", "c_mktsegment"),
    cat_col="c_nationkey",
    num_cols=("c_acctbal",),
    epochs: int = 3,
    lr: float = 0.3,
    l2: float = 1e-4,
    seed: int = 42,
    neighbor_budget: int | None = 5,
    ch: int = 8,
    num_prompts: int = 4,
    num_layers: int = 2,
) -> TrainResult:
    """Joint GD on the Trompt decision head AND the last prompt-bank
    attention layer over frozen upstream states — the N23 mirror of
    :func:`train_tabnet_glu` (see the section comment)."""
    import math as _math

    from ..operators.kernels import _seeded_matrix
    from .stack import ORDERS_LAYER_SPEC, train_relational_stack

    def fit(frame, frames, meta):
        card = meta["n_codes"]
        k = meta["n_classes"]
        full = cut_lineage(
            frame.select("split", "label", "code", "nums"), eager=True
        )
        tr = full.filter(F.col("split") == "train").select(
            "code", "nums", "label"
        )
        n = tr.count()
        W = _seeded_matrix(
            (seed, "conv", num_layers - 1), ch, ch, 1.0 / _math.sqrt(ch)
        ).copy()
        rng = np.random.default_rng(seed)
        Wh = rng.uniform(-0.5, 0.5, size=(ch, k)) * 0.1
        bh = np.zeros(k)
        glen = 1 + ch * ch + ch * k + k
        losses: list[float] = []
        for _ in range(epochs):
            from decimal import Decimal

            import pandas as pd
            from pyspark.sql.functions import pandas_udf

            Wc, Whc, bhc = W.copy(), Wh.copy(), bh.copy()

            def grad_fn(code, nums, label):
                out = []
                for c, xs, y in zip(
                    code.to_numpy(dtype=np.int64),
                    nums.to_list(),
                    label.to_numpy(dtype=np.int64),
                ):
                    m = trompt_column_embeddings(c, xs, card, ch, seed)
                    p_in, frozen = trompt_layer_states(
                        m, num_prompts, num_layers, seed
                    )
                    g = trompt_layer_row_grads(
                        m, p_in, frozen, Wc, Whc, bhc, int(y),
                        num_layers, num_prompts,
                    )
                    out.append([_dec9_py(Decimal, v) for v in g])
                return pd.Series(out)

            grad_fn.__annotations__ = {
                "code": pd.Series,
                "nums": pd.Series,
                "label": pd.Series,
                "return": pd.Series,
            }
            udf = pandas_udf(grad_fn, f"array<{DECIMAL_TYPE}>")
            tot = (
                tr.select(udf("code", "nums", "label").alias("g"))
                .agg(
                    F.count(F.lit(1)).alias("__n"),
                    *[
                        F.sum(F.element_at("g", i + 1)).alias(f"v{i}")
                        for i in range(glen)
                    ],
                )
                .first()
            )
            _require_nonnull_sums(tot, glen)

            def seg(off, size):
                return np.array(
                    [float(tot[f"v{off + i}"] or 0) for i in range(size)]
                )

            o = 1
            GW = seg(o, ch * ch).reshape(ch, ch); o += ch * ch
            GWh = seg(o, ch * k).reshape(ch, k); o += ch * k
            gbh = seg(o, k)
            losses.append(
                float(tot["v0"] or 0) / n
                + 0.5 * l2 * float((Wh * Wh).sum() + (W * W).sum())
            )
            W -= lr * (GW / n + l2 * W)
            Wh -= lr * (GWh / n + l2 * Wh)
            bh -= lr * (gbh / n)

        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        Wc, Whc, bhc = W.copy(), Wh.copy(), bh.copy()

        def pred_fn(code, nums):
            out = []
            for c, xs in zip(code.to_numpy(dtype=np.int64), nums.to_list()):
                m = trompt_column_embeddings(c, xs, card, ch, seed)
                p_in, frozen = trompt_layer_states(
                    m, num_prompts, num_layers, seed
                )
                _imp, _enc, logits = trompt_layer_forward(
                    m, p_in, frozen, Wc, Whc, bhc, num_layers, num_prompts
                )
                out.append(int(np.argmax(logits)))
            return pd.Series(out)

        pred_fn.__annotations__ = {
            "code": pd.Series, "nums": pd.Series, "return": pd.Series,
        }
        pudf = pandas_udf(pred_fn, "bigint")
        rows = (
            full.select("split", "label", pudf("code", "nums").alias("pred"))
            .groupBy("split")
            .agg(
                F.sum(
                    (F.col("pred") == F.col("label")).cast("bigint")
                ).alias("h"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        accuracy = {r["split"]: r["h"] / r["n"] for r in rows}
        return TrainResult(
            losses=losses, accuracy=accuracy,
            params={"W": W, "Wh": Wh, "bh": bh},
        )

    return train_relational_stack(
        tables,
        primary_keys,
        foreign_keys,
        layers=(ORDERS_LAYER_SPEC,),
        target=target,
        cat_col=cat_col,
        num_cols=num_cols,
        seed=seed,
        neighbor_budget=neighbor_budget,
        fit_fn=fit,
    )
