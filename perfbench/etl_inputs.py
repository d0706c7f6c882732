"""Seeded inputs and expected outcomes for the ``etl_cycle`` workload.

The source tables are the TPC-H-shaped parquet files in ``data/``. From a
seed this module writes two CSV folders:

- ``b1``: the cold batch, i.e. the tables plus injected dirty rows
  (null primary key, duplicate primary key, orphan foreign key, negative
  value);
- ``b2``: the next snapshot of the source, i.e. the cleaned cold state with
  a seed-chosen mix of updates, inserts and deletes, plus fresh dirty rows.

It also computes, with pandas and independently of the engine, what
``Pipeline.run_batch`` must report for each batch (the per-check violation
counts and the SCD2 change counts) and what the committed SCD2 snapshot
must hold afterwards. The model follows the documented rules of the
quality checks (null and duplicate keys dropped keep-first, orphans
dropped, negatives flagged and kept) and of the SCD2 merge
(insert/update/delete/unchanged by primary key, soft deletes).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# parent before child: both tables have a primary key and orders has a
# foreign key to customer (customer's key to nation is not checked, since
# nation is not loaded and the checker skips absent parents)
TABLES = ("customer", "orders")
# one timestamp per batch: the cold load, then the incremental cycles
BATCH_TS = (datetime(2024, 1, 1), datetime(2024, 1, 2), datetime(2024, 1, 3))
# dirty rows per table and batch; orphans only for orders
DIRT = {"null_pk": 2, "duplicate_pk": 2, "orphan_fk": 3, "negative": 2}
# (updates, inserts, deletes) per incremental batch; the seed picks the rows
CHANGES = {"customer": (25, 25, 12), "orders": (120, 120, 60)}
_TS_FMT = "%Y-%m-%d %H:%M:%S"


@dataclass(frozen=True)
class TableSpec:
    name: str
    columns: tuple[str, ...]
    pk: tuple[str, ...]
    fks: tuple[tuple[tuple[str, ...], str, tuple[str, ...]], ...]
    numeric: tuple[str, ...]
    required: tuple[str, ...]

    @property
    def attrs(self) -> list[str]:
        return [c for c in self.columns if c not in self.pk]


def table_specs(registry) -> dict[str, TableSpec]:
    """Column, key and constraint metadata read from a ``SchemaRegistry``:
    the registry is an input of the pipeline, so the model uses the same
    declarations but none of the engine's check logic."""
    out = {}
    for name in TABLES:
        t = registry[name]
        out[name] = TableSpec(
            name=name,
            columns=tuple(t.columns),
            pk=tuple(t.primary_key),
            fks=tuple(
                (tuple(fk.columns), fk.ref_table, tuple(fk.ref_columns))
                for fk in t.foreign_keys
            ),
            numeric=tuple(t.numeric_columns()),
            required=tuple(t.required),
        )
    return out


@dataclass
class Expected:
    """What the pipeline must report and hold, per batch and table."""

    summary: list[dict[tuple[str, str], int]] = field(default_factory=list)
    merge_stats: list[dict[str, dict[str, int]]] = field(default_factory=list)
    snapshot_digest: dict[str, str] = field(default_factory=dict)
    # rows of each current snapshot, keyed by (batches loaded - 1, table)
    current_rows: dict[tuple[int, str], int] = field(default_factory=dict)
    mix: dict[str, int] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# model of the quality checks and the SCD2 merge
# ---------------------------------------------------------------------------


def _null_mask(df: pd.DataFrame, cols) -> pd.Series:
    return df[list(cols)].isna().any(axis=1)


def clean_batch(
    tables: dict[str, pd.DataFrame], specs: dict[str, TableSpec]
) -> tuple[dict[str, pd.DataFrame], dict[tuple[str, str], int]]:
    """Apply the checks in load order; return cleaned tables and the
    violation counts keyed by ``(table.check, issue)``."""
    counts: dict[tuple[str, str], int] = {}

    def add(key, n):
        if n:
            counts[key] = counts.get(key, 0) + int(n)

    cleaned: dict[str, pd.DataFrame] = {}
    for name in TABLES:
        spec = specs[name]
        df = tables[name]
        nulls = _null_mask(df, spec.pk)
        add((f"{name}.primary_key", "null_pk"), nulls.sum())
        df = df[~nulls]
        order = spec.attrs or list(spec.pk)
        df = df.sort_values(order, na_position="first", kind="stable")
        dup = df.duplicated(list(spec.pk), keep="first")
        add((f"{name}.primary_key", "duplicate_pk"), dup.sum())
        df = df[~dup]
        for cols, parent, pcols in spec.fks:
            if parent not in cleaned:
                continue
            keys = set(map(tuple, cleaned[parent][list(pcols)].to_numpy().tolist()))
            has = ~_null_mask(df, cols)
            present = pd.Series(
                [tuple(r) in keys for r in df[list(cols)].to_numpy().tolist()],
                index=df.index,
                dtype=bool,
            )
            orphan = has & ~present
            add((f"{name}.foreign_key", "orphan_fk"), orphan.sum())
            df = df[~orphan]
        if spec.required:
            add(
                (f"{name}.required_nulls", "missing_required"),
                _null_mask(df, spec.required).sum(),
            )
        for c in spec.numeric:
            if "longitude" in c.lower() or "latitude" in c.lower():
                continue
            add((f"{name}.negative_values", f"negative:{c}"), (df[c] < 0).sum())
        cleaned[name] = df.reset_index(drop=True)
    return cleaned, counts


def _rows(df: pd.DataFrame, cols) -> dict[tuple, tuple]:
    """``{primary key: attribute values}`` for ``cols = (pk, attrs)``."""
    keys = df[list(cols[0])].to_numpy(dtype=object).tolist()
    vals = df[list(cols[1])].to_numpy(dtype=object).tolist()
    return {tuple(k): tuple(v) for k, v in zip(keys, vals)}


def _same(a, b) -> bool:
    if a is None or (isinstance(a, float) and np.isnan(a)) or a is pd.NA or a is pd.NaT:
        return b is None or (isinstance(b, float) and np.isnan(b)) or b is pd.NA or b is pd.NaT
    return a == b


def scd2_diff(
    incoming: pd.DataFrame, live: dict[tuple, tuple], spec: TableSpec
) -> tuple[dict[str, int], dict[tuple, str]]:
    inc = _rows(incoming, (spec.pk, spec.attrs))
    kinds: dict[tuple, str] = {}
    for k, v in inc.items():
        if k not in live:
            kinds[k] = "insert"
        elif all(_same(a, b) for a, b in zip(v, live[k])):
            kinds[k] = "unchanged"
        else:
            kinds[k] = "update"
    for k in live:
        if k not in inc:
            kinds[k] = "delete"
    stats: dict[str, int] = {}
    for t in kinds.values():
        stats[t] = stats.get(t, 0) + 1
    return stats, kinds


def canonical(v) -> str:
    """One spelling per value for both engines' rows."""
    if v is None or v is pd.NA or v is pd.NaT:
        return "null"
    if isinstance(v, (float, np.floating)):
        return "null" if np.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (datetime, pd.Timestamp)):
        return v.strftime(_TS_FMT)
    return str(v)


def digest(rows) -> str:
    """Order-insensitive hash of rows given as sequences of values."""
    lines = sorted("\x1f".join(canonical(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


def _load(specs, scale: float, rng) -> dict[str, pd.DataFrame]:
    """The source tables; below ``scale`` 1 a seeded share of the
    customers and exactly their orders."""
    out = {}
    for name in TABLES:
        df = pd.read_parquet(os.path.join(DATA_DIR, f"{name}.parquet"))
        df = df[list(specs[name].columns)]
        if scale < 1.0 and name == "customer":
            df = df[rng.random(len(df)) < scale]
        if scale < 1.0 and name == "orders":
            df = df[df["o_custkey"].isin(out["customer"]["c_custkey"])]
        for c in df.columns:
            if pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("Int64")
            elif pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        out[name] = df.sort_values(list(specs[name].pk)).reset_index(drop=True)
    return out


def _pick(df: pd.DataFrame, n: int, rng) -> pd.DataFrame:
    n = min(n, len(df))
    return df.iloc[np.sort(rng.choice(len(df), size=n, replace=False))].copy()


def _inject_dirt(tables, specs, rng, key_base: int) -> None:
    """Append null-PK, duplicate-PK and (to orders) orphan-FK rows, and
    flip some values negative."""
    for name in TABLES:
        df = tables[name]
        pk = specs[name].pk[0]
        nulls = _pick(df, DIRT["null_pk"], rng)
        dups = _pick(df, DIRT["duplicate_pk"], rng)
        text = "c_name" if name == "customer" else "o_orderpriority"
        dups[text] = dups[text] + "~dup"
        parts = [df, nulls, dups]
        if name == "orders":
            orphans = _pick(df, DIRT["orphan_fk"], rng)
            orphans[pk] = np.arange(len(orphans)) + key_base + 10_000_000
            orphans["o_custkey"] = np.arange(len(orphans)) + key_base + 20_000_000
            parts.append(orphans)
        start = len(df)
        df = pd.concat(parts, ignore_index=True)
        df.loc[start : start + len(nulls) - 1, pk] = pd.NA
        money = "c_acctbal" if name == "customer" else "o_totalprice"
        neg = rng.choice(len(df), size=DIRT["negative"], replace=False)
        df.loc[neg, money] = -df.loc[neg, money].abs() - 1.0
        tables[name] = df


def _next_snapshot(clean, specs, rng) -> tuple[dict[str, pd.DataFrame], dict[str, int]]:
    """The source's next full export: ``CHANGES`` updates, inserts and
    deletes, rows chosen by the seed, applied to the cleaned last batch."""
    out = {name: clean[name].copy() for name in TABLES}
    mix: dict[str, int] = {}

    def change(name, n_upd, n_ins, n_del, upd_fn, new_fn):
        df = out[name]
        pk = specs[name].pk[0]
        idx = rng.permutation(len(df))
        upd, dele = idx[:n_upd], idx[n_upd : n_upd + n_del]
        df.loc[df.index[upd]] = upd_fn(df.loc[df.index[upd]].copy())
        top = int(df[pk].max())
        new = _pick(clean[name], n_ins, rng)
        new[pk] = np.arange(len(new)) + top + 1
        new = new_fn(new)
        df = df.drop(index=df.index[dele])
        out[name] = pd.concat([df, new], ignore_index=True)
        mix[f"{name}.update"], mix[f"{name}.insert"], mix[f"{name}.delete"] = (
            len(upd), len(new), len(dele),
        )

    def cust_upd(d):
        d["c_acctbal"] = (d["c_acctbal"] + 100.0).round(2)
        return d

    def cust_new(d):
        d["c_nationkey"] = rng.integers(0, 25, size=len(d))
        return d

    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

    def ord_upd(d):
        half = len(d) // 2
        d.iloc[:half, d.columns.get_loc("o_totalprice")] = (
            d["o_totalprice"].iloc[:half] + 1.5
        ).round(2)
        nxt = {p: priorities[(i + 1) % 5] for i, p in enumerate(priorities)}
        cur = d["o_orderpriority"].iloc[half:].to_numpy()
        shifted = [nxt.get(p, priorities[0]) for p in cur]
        d.iloc[half:, d.columns.get_loc("o_orderpriority")] = shifted
        return d

    def ord_new(d):
        keys = out["customer"]["c_custkey"].to_numpy(dtype="int64")
        d["o_custkey"] = rng.choice(keys, size=len(d))
        return d

    change("customer", *CHANGES["customer"], cust_upd, cust_new)
    change("orders", *CHANGES["orders"], ord_upd, ord_new)
    return out, mix


def _write_csvs(tables, specs, folder: str) -> None:
    os.makedirs(folder, exist_ok=True)
    for name in TABLES:
        df = tables[name][list(specs[name].columns)]
        df.to_csv(
            os.path.join(folder, f"{name}.csv"),
            index=False,
            date_format=_TS_FMT,
        )


def scd2_merge(snapshot: dict, incoming: pd.DataFrame, spec: TableSpec, ts):
    """Next committed snapshot ``{key: (attrs, updated_at, is_deleted)}``
    and the change counts: changed and new rows take ``ts``, vanished
    live rows become tombstones, old tombstones stay until their key
    comes back (as an insert)."""
    live = {k: v[0] for k, v in snapshot.items() if not v[2]}
    stats, kinds = scd2_diff(incoming, live, spec)
    inc = _rows(incoming, (spec.pk, spec.attrs))
    nxt = {}
    for k, kind in kinds.items():
        if kind in ("insert", "update"):
            nxt[k] = (inc[k], ts, False)
        elif kind == "delete":
            nxt[k] = (live[k], ts, True)
        else:
            nxt[k] = snapshot[k]
    for k, v in snapshot.items():
        if v[2] and k not in inc:
            nxt[k] = v
    return stats, nxt


def generate(registry, out_dir: str, seed: int, scale: float = 1.0) -> Expected:
    """Write one CSV folder per batch (``b1`` cold, then ``b2``, ``b3``)
    under ``out_dir`` and return the expected outcomes of running them, in
    order, through one pipeline."""
    rng = np.random.default_rng(seed)
    specs = table_specs(registry)
    batch = _load(specs, scale, rng)
    exp = Expected()
    snapshots = {name: {} for name in TABLES}
    clean = None
    for i, ts in enumerate(BATCH_TS):
        if clean is not None:
            batch, mix = _next_snapshot(clean, specs, rng)
            exp.mix.update({f"b{i + 1}.{k}": v for k, v in mix.items()})
        _inject_dirt(batch, specs, rng, key_base=i * 50_000_000)
        _write_csvs(batch, specs, os.path.join(out_dir, f"b{i + 1}"))
        clean, summary = clean_batch(batch, specs)
        exp.summary.append(summary)
        stats = {}
        for name in TABLES:
            st, snapshots[name] = scd2_merge(snapshots[name], clean[name], specs[name], ts)
            stats[name] = st
            exp.current_rows[(i, name)] = len(snapshots[name])
        exp.merge_stats.append(stats)
    for name in TABLES:
        final = [(*k, *attrs, u, dead) for k, (attrs, u, dead) in snapshots[name].items()]
        exp.snapshot_digest[name] = digest(final)
    return exp
