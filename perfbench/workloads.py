"""The benchmark's workloads and their output checks.

Each workload is a list of operations — top-level calls into the
engine's public API, each one a unit a user waits for. An iteration
runs every operation once; the benchmark times each call and checks
its output before the next one starts.

Outputs that do not depend on the workload seed (every query: the
database is seed-independent) are checked against the fingerprints
pinned in ``fingerprints.json``. Outputs that depend on it (the
trainer's loss trajectory and accuracies) are pinned for ``PIN_SEED``
only and checked by invariants for every seed.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import random
import shutil
from dataclasses import dataclass, field

PIN_SEED = 42


class CheckFailed(Exception):
    """An operation ran but its output is wrong."""


@dataclass
class Op:
    """One timed call. ``run(ctx)`` returns the output; ``check(ctx,
    out)`` raises :class:`CheckFailed` if it is wrong. ``span`` names
    the call in the trace."""

    name: str
    span: str
    run: object
    check: object
    seed_dependent: bool = False


@dataclass
class Ctx:
    spark: object
    db: object
    data_dir: str
    work_dir: str
    seed: int
    n_customers: int
    pins: dict
    record: dict | None = None
    state: dict = field(default_factory=dict)

    def pinned(self, op: Op, fp) -> None:
        """Compare ``fp`` with the pin for ``op`` (or record it)."""
        if op.seed_dependent and self.seed != PIN_SEED:
            return
        if self.record is not None:
            self.record[op.name] = fp
            return
        if op.name not in self.pins:
            raise CheckFailed(f"{op.name}: no pinned fingerprint")
        if self.pins[op.name] != fp:
            raise CheckFailed(f"{op.name}: got {fp!r}, pinned {self.pins[op.name]!r}")


# ------------------------------------------------------------ fingerprints


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else format(v, ".10g")
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return sorted((str(k), _norm(x)) for k, x in v.items())
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if hasattr(v, "toArray"):  # MLlib vectors
        return _norm(list(v.toArray()))
    return repr(v)


def rows_fingerprint(rows) -> list:
    """[row count, order-independent content hash]. Floats are compared
    to 10 significant digits, so summation order cannot flip the hash."""
    acc = 0
    for r in rows:
        h = hashlib.sha256(repr(_norm(tuple(r))).encode()).digest()
        acc = (acc + int.from_bytes(h[:16], "big")) % (1 << 128)
    return [len(rows), f"{acc:032x}"]


def _hex(x: float) -> str:
    return float(x).hex()


# ------------------------------------------------------------ query ops


def _query_op(name: str, span: str) -> Op:
    def run(ctx: Ctx):
        import __spark_entry__ as entry

        if name == "schema_inference":
            # profile a database the engine has not seen: without this
            # the memo turns every cycle after the first into a lookup
            from deep_db_learning_spark.profiling.analyzer import clear_profile_cache

            clear_profile_cache()
        return getattr(entry, f"q_{name}")(ctx.spark, ctx.data_dir).collect()

    def check(ctx: Ctx, rows):
        ctx.pinned(op, rows_fingerprint(rows))

    op = Op(name, span, run, check)
    return op


# (entry-point name, span name): the span name places the op in the
# engine layer it exercises
QUERY_MIX = [
    ("tpch_q1", "query.tpch_q1"),
    ("tpch_q3", "query.tpch_q3"),
    ("tpch_q5", "query.tpch_q5"),
    ("tpch_q6", "query.tpch_q6"),
    ("tpch_q18", "query.tpch_q18"),
    ("top_orders_per_customer", "query.top_orders_per_customer"),
    ("message_mean", "query.message_mean"),
    ("message_2hop", "query.message_2hop"),
    ("attention_aggregate", "query.attention_aggregate"),
    ("bfs_depth2", "query.bfs_depth2"),
    ("bfs_per_root", "query.bfs_per_root"),
    ("neighbor_sample", "query.neighbor_sample"),
    ("customer_features", "query.customer_features"),
    ("events_asof_purchase", "query.events_asof_purchase"),
    ("events_hourly", "query.events_hourly"),
    ("events_sessions", "query.events_sessions"),
    ("scd2_apply", "sources.scd2_apply"),
    ("db_copy_row_pick", "sources.store_roundtrip"),
    ("schema_inference", "query.schema_inference"),
]


def query_mix(seed: int) -> list[Op]:
    """A closed loop of short warm queries, one client, no think time,
    in a fixed order permuted by the seed."""
    ops = [_query_op(n, s) for n, s in QUERY_MIX]
    random.Random(seed).shuffle(ops)
    return ops


# ------------------------------------------------------------ train_stack


def stack_config():
    from deep_db_learning_spark.plans.stack import (
        THREE_LAYER_BENCH_CONFIG,
        THREE_LAYER_SPECS,
    )

    # one epoch, one batch: a single SGD step instead of the bench
    # config's four, so that a cold and a warm call fit one run's time
    # budget. Assembly, the forward/backward folds, the update and the
    # eval run the same code as in the longer schedule.
    return THREE_LAYER_SPECS, {**THREE_LAYER_BENCH_CONFIG, "epochs": 1, "n_batches": 1}


def train_stack(seed: int) -> list[Op]:
    """Train the depth-3 stack, then save → load → score every root."""

    def train(ctx: Ctx):
        from deep_db_learning_spark.plans import train_relational_stack

        layers, cfg = stack_config()
        db = ctx.db
        res = train_relational_stack(
            db.tables, db.primary_keys, db.foreign_keys,
            layers=layers, seed=ctx.seed, **cfg,
        )
        ctx.state["trained"] = res
        return res

    def check_train(ctx: Ctx, res):
        _, cfg = stack_config()
        want = cfg["epochs"] * cfg["n_batches"]
        if len(res.losses) != want:
            raise CheckFailed(f"train: {len(res.losses)} losses, expected {want}")
        if not all(math.isfinite(x) for x in res.losses):
            raise CheckFailed(f"train: non-finite loss in {res.losses}")
        ctx.pinned(train_op, {
            "losses": [_hex(x) for x in res.losses],
            "accuracy": {k: _hex(v) for k, v in sorted(res.accuracy.items())},
        })

    def predict(ctx: Ctx):
        from deep_db_learning_spark.plans import (
            load_stack_model,
            predict_relational_stack,
            save_stack_model,
        )

        layers, cfg = stack_config()
        db = ctx.db
        path = os.path.join(ctx.work_dir, "model")
        shutil.rmtree(path, ignore_errors=True)
        save_stack_model(ctx.state["trained"], path)
        params = load_stack_model(ctx.spark, path)
        return predict_relational_stack(
            db.tables, db.primary_keys, db.foreign_keys, params,
            layers=layers, seed=ctx.seed,
            neighbor_budget=cfg["neighbor_budget"],
        ).collect()

    def check_predict(ctx: Ctx, rows):
        if len(rows) != ctx.n_customers:
            raise CheckFailed(f"predict: {len(rows)} rows, expected {ctx.n_customers}")
        if any(r["pred"] is None for r in rows):
            raise CheckFailed("predict: null prediction")
        hits: dict[str, list[int]] = {}
        for r in rows:
            h = hits.setdefault(r["split"], [0, 0])
            h[0] += int(r["pred"] == r["label"])
            h[1] += 1
        acc = {s: h[0] / h[1] for s, h in hits.items()}
        want = ctx.state["trained"].accuracy
        if acc != want:
            raise CheckFailed(f"predict: per-split accuracy {acc} != trained {want}")

    train_op = Op("train", "plans.stack.train_relational_stack", train, check_train,
                  seed_dependent=True)
    predict_op = Op("predict", "plans.stack.predict", predict, check_predict,
                    seed_dependent=True)
    return [train_op, predict_op]


WORKLOADS = {
    "train_stack": train_stack,
    "query_mix": query_mix,
}

# warm iterations a run measures at least, whatever ``--seconds`` says.
# One query cycle (about 12 s) is short enough for a busy neighbour on a
# shared host to move it by a fifth, so query_mix measures two. A second
# train_stack iteration (about 15 s) would not fit: a full evaluation
# makes 48 runs, each with a JVM launch and a cold iteration, in under
# an hour.
MIN_ITERATIONS = {
    "train_stack": 1,
    "query_mix": 2,
}

# per-layer metrics whose spans only one workload enters; the other
# workload reports them as 0. Every other per-layer metric, and these on
# their own workload, must be non-zero, or the traced run fails: a 0
# there means a span stopped catching the calls it wraps.
WORKLOAD_ONLY_METRICS = {
    "train_stack": {
        "plans.training.assemble_s",
        "plans.stack.train_self_s",
        "plans.stack.jobs_per_step",
        "plans.stack.predict_self_s",
        "plans.persistence.save_s",
        "plans.persistence.load_s",
        "checkpoint.cut_lineage_s",
        "checkpoint.cut_lineage_calls",
    },
    "query_mix": {
        "sources.scd2_apply_s",
        "sources.store_roundtrip_s",
        "profiling.guess_schema_s",
    },
}
