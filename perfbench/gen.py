"""Seeded input generator for the ``etl_merge`` workload.

It produces the reference job's two inputs: the primary feed, a
multi-line JSON array (the S3 document shape), and the fallback table,
which the workload loads into an in-process Derby database. The merge's
behaviour depends on a handful of input properties, so the generator
fixes each of them exactly and records the measured value:

* ``match_share``: share of primary ids that have a fallback row;
* ``null_share``: share of primary cells in the shared columns that are
  NULL or NaN (the cells where the fallback value wins);
* ``dup_ids``: fallback ids with a second row (the first-match path);
* ``unmatched``: fallback-only ids (the audit set, one row each);
* the fallback ``id`` is DECIMAL(12,0) while the primary id is an
  integer, which drives the merge's key-coercion path.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import hashlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa

# Columns both sources carry besides ``id``; primary-only and
# fallback-only columns follow.
SHARED = ("name", "score", "qty", "active", "city")
FALLBACK_ONLY = ("tier", "credit")
CITIES = ("osaka", "tokyo", "nagoya", "sapporo", "fukuoka", "kobe", "sendai")
CHANNELS = ("web", "store", "partner", "api")
TIERS = ("gold", "silver", "bronze")


@dataclass(frozen=True)
class Spec:
    n_primary: int
    match_share: float = 0.7
    null_share: float = 0.2
    dup_share: float = 0.1  # of matched ids
    unmatched_share: float = 0.15  # of n_primary
    fallback_null_share: float = 0.05

    @property
    def n_matched(self) -> int:
        return round(self.match_share * self.n_primary)

    @property
    def n_dup(self) -> int:
        return round(self.dup_share * self.n_matched)

    @property
    def n_unmatched(self) -> int:
        return round(self.unmatched_share * self.n_primary)

    @property
    def n_fallback(self) -> int:
        return self.n_matched + self.n_dup + self.n_unmatched


@dataclass
class Inputs:
    spec: Spec
    seed: int
    primary: pa.Table  # id int64; score carries both NULL and NaN
    fallback: pa.Table  # id decimal(12,0); seq is the physical row order
    primary_json: bytes

    def digest(self) -> str:
        h = hashlib.sha256(self.primary_json)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, self.fallback.schema) as w:
            w.write_table(self.fallback)
        h.update(sink.getvalue().to_pybytes())
        return h.hexdigest()[:16]

    def unmatched_ids(self) -> list[int]:
        fb = self.fallback.column("id").cast(pa.int64()).to_numpy()
        return np.setdiff1d(fb, self.primary.column("id").to_numpy()).tolist()


def _exact_mask(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    mask = np.zeros(n, dtype=bool)
    mask[rng.choice(n, round(share * n), replace=False)] = True
    return mask


def _pick(rng: np.random.Generator, n: int, words) -> np.ndarray:
    return np.asarray(words)[rng.integers(0, len(words), n)]


def _json_cells(arr: pa.Array) -> list[str]:
    """JSON text of each cell; NaN is written as the bare token NaN."""
    t = arr.type
    vals = arr.to_pylist()
    if pa.types.is_string(t):
        return ["null" if v is None else f'"{v}"' for v in vals]
    if pa.types.is_boolean(t):
        return ["null" if v is None else ("true" if v else "false") for v in vals]
    if pa.types.is_floating(t):
        return ["null" if v is None else ("NaN" if v != v else repr(v)) for v in vals]
    return ["null" if v is None else str(v) for v in vals]


def _to_json(table: pa.Table) -> bytes:
    cells = [_json_cells(c.combine_chunks()) for c in table.columns]
    row = "{" + ",".join(f'"{name}":%s' for name in table.column_names) + "}"
    rows = [row % r for r in zip(*cells)]
    return ("[\n" + ",\n".join(rows) + "\n]\n").encode("ascii")


def generate(spec: Spec, seed: int) -> Inputs:
    rng = np.random.default_rng(seed)
    n = spec.n_primary
    # Distinct ids for primary rows and fallback-only rows, drawn from
    # one range so the two sets interleave.
    ids = rng.choice(20 * (n + spec.n_unmatched), n + spec.n_unmatched, replace=False) + 1
    p_ids, fb_only_ids = ids[:n], ids[n:]

    values = {
        "name": np.char.add("n", rng.integers(0, 50_000, n).astype(str)),
        "score": np.round(rng.uniform(0, 1000, n), 2),
        "qty": rng.integers(0, 500, n),
        "active": rng.random(n) < 0.5,
        "city": _pick(rng, n, CITIES),
    }
    primary = {"id": pa.array(p_ids, pa.int64())}
    for c in SHARED:
        missing = _exact_mask(rng, n, spec.null_share)
        if c == "score":  # half the missing cells NULL, half NaN
            nan = missing & (rng.random(n) < 0.5)
            values[c][nan] = np.nan
            missing &= ~nan
        primary[c] = pa.array(values[c], mask=missing)
    primary["channel"] = pa.array(_pick(rng, n, CHANNELS))

    matched = rng.permutation(p_ids)[: spec.n_matched]
    dups = matched[: spec.n_dup]
    fb_ids = np.concatenate([matched, dups, fb_only_ids])
    m = len(fb_ids)
    fb_ids = fb_ids[rng.permutation(m)]  # physical row order: seq
    values = {
        "name": np.char.add("f", rng.integers(0, 50_000, m).astype(str)),
        "score": np.round(rng.uniform(0, 1000, m), 2),
        "qty": rng.integers(0, 500, m),
        "active": rng.random(m) < 0.5,
        "city": _pick(rng, m, CITIES),
        "tier": _pick(rng, m, TIERS),
        "credit": np.round(rng.uniform(0, 100, m), 2),
    }
    fallback = {
        "id": pa.array(fb_ids).cast(pa.decimal128(19, 0)).cast(pa.decimal128(12, 0)),
        "seq": pa.array(np.arange(m, dtype=np.int32)),
    }
    for c in SHARED + FALLBACK_ONLY:  # Derby has no NaN: NULLs only
        mask = _exact_mask(rng, m, spec.fallback_null_share)
        fallback[c] = pa.array(values[c], mask=mask)

    primary = pa.table(primary)
    return Inputs(
        spec=spec,
        seed=seed,
        primary=primary,
        fallback=pa.table(fallback),
        primary_json=_to_json(primary),
    )


def properties(inputs: Inputs) -> dict:
    """Measure the declared properties on the generated data."""
    p = inputs.primary
    p_ids = p.column("id").to_numpy()
    fb_ids, counts = np.unique(
        inputs.fallback.column("id").cast(pa.int64()).to_numpy(), return_counts=True
    )
    missing = 0
    for c in SHARED:
        col = p.column(c)
        missing += col.null_count
        if pa.types.is_floating(col.type):
            missing += int(np.isnan(col.to_numpy(zero_copy_only=False)).sum()) - col.null_count
    return {
        "spec": asdict(inputs.spec),
        "primary_rows": p.num_rows,
        "fallback_rows": inputs.fallback.num_rows,
        "match_share": float(np.isin(p_ids, fb_ids).mean()),
        "null_share": missing / (p.num_rows * len(SHARED)),
        "dup_ids": int((counts > 1).sum()),
        "unmatched": int((~np.isin(fb_ids, p_ids)).sum()),
    }
