"""Bloom-filter file skipping for TableStore tables — the Delta bloom
index analog.

The store's built-in skipping is RANGE-based: per-file [min, max] of
the merge key (plus Z-order/Morton clustering for multi-column
ranges). Ranges prune nothing for an equality lookup on a
high-cardinality column the files are NOT clustered by — every file's
range covers every value. A per-file Bloom bitset over that column
does: a point lookup tests k hash positions per file driver-side
(metadata-scale) and reads only the files that MIGHT contain the
value; false positives cost one extra file read, false negatives
cannot happen (same one-sided guarantee as the min/max sidecar).

Layout: one JSON sidecar per table version (``_BLOOM.<col>.json``)
mapping each parquet file to a hex-encoded bitset. Build cost is one
scan of the indexed column: distinct (file, value) pairs explode to k
positions and reduce to per-file position sets. The per-file set is
bounded by ``n_bits`` regardless of row count, so the driver-side
materialization is O(n_files x n_bits / 8) bytes — the same
metadata-scale class as the store's file-stats sidecar; at 100 TB
size ``n_bits`` to the per-file distinct-value count (~10 bits/value
for ~1% fpp) and build per-partition.

Hashing is ``xxhash64(value, seed_i)`` — the engine's portable-hash
family, deterministic across runs and engines.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .merge import TableStore, local_path_from_uri


def _logical_files(
    store: TableStore, version_dir: str, rels: list[str]
) -> DataFrame:
    """Logical rows of the version's files ``rels`` for an index
    build: read with the STORED schema (plus basePath so partition
    columns resolve) and the column mapping applied, from one commit
    record read. Builder reads must see the same types as
    ``_read_version`` — after a type widening the physical files mix
    narrow and wide encodings, and an inferred read would either
    hash/compare the narrow type (xxhash64 is type-sensitive: a bloom
    built over raw int values never matches probes cast to the
    table's bigint — silent zero-candidate pruning) or fail to merge
    the footers outright. No deletion-vector filter: a per-file index
    over every stored row is a superset of the visible rows, which
    keeps pruning one-sided."""
    meta = store._version_meta(version_dir)
    return store._apply_colmap(
        store._schema_reader(meta, version_dir).parquet(
            *[os.path.join(version_dir, rel) for rel in rels]
        ),
        meta.get("colmap"),
    )


def _sidecar_path(version_dir: str, col: str) -> str:
    return os.path.join(version_dir, f"_BLOOM.{col}.json")


def _version_parquet_files(version_dir: str) -> list[str]:
    """Relative paths of every data file in a version dir."""
    out = []
    for root, _dirs, fs in os.walk(version_dir):
        for f in fs:
            if f.endswith(".parquet"):
                out.append(
                    os.path.relpath(os.path.join(root, f), version_dir)
                )
    return out


def build_bloom_sidecar(
    store: TableStore,
    name: str,
    col: str,
    n_bits: int = 32768,
    n_hashes: int = 5,
) -> int:
    """Index ``col`` for the table's CURRENT version; returns the
    number of files scanned. One pass over the unindexed files:
    distinct (file, value) → k positions each → per-file position
    sets. INCREMENTAL across mutations: every merge / DELETE /
    UPDATE / OPTIMIZE carries the sidecar entries of its hard-linked
    files into the new version (``TableStore._carry_bloom_sidecars``),
    so a re-run after a mutation scans only the files that mutation
    actually rewrote — O(files changed), never O(table). Entries for
    files no longer in the version are dropped; a parameter change
    (``n_bits`` / ``n_hashes``) rebuilds from scratch (bitsets of
    different geometry cannot merge)."""
    version_dir = store.current_path(name)
    if version_dir is None:
        raise ValueError(f"table {name!r} does not exist")
    existing: dict[str, str] = {}
    path = _sidecar_path(version_dir, col)
    if os.path.exists(path):
        try:
            with open(path) as f:
                meta = json.load(f)
            if meta["n_bits"] == n_bits and meta["n_hashes"] == n_hashes:
                existing = meta["files"]
        except Exception:
            existing = {}  # torn sidecar: rebuild everything
    all_rel = _version_parquet_files(version_dir)
    sidecar = {rel: existing[rel] for rel in all_rel if rel in existing}
    missing = [rel for rel in all_rel if rel not in existing]
    if missing:
        # scan ONLY the unindexed files; basePath keeps partition
        # columns resolvable even when ``col`` is one of them
        df = _logical_files(store, version_dir, missing)
        pos_cols = [
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(n_bits)).alias(
                f"__p{i}"
            )
            for i in range(n_hashes)
        ]
        per_file = (
            df.select(F.input_file_name().alias("__f"), F.col(col))
            .distinct()
            .select("__f", F.array(*pos_cols).alias("__ps"))
            .select("__f", F.explode("__ps").alias("__p"))
            .groupBy("__f")
            .agg(F.collect_set("__p").alias("__ps"))
            .collect()  # bounded: n_files x n_bits positions max
        )
        for r in per_file:
            bits = bytearray(n_bits // 8)
            for p in r["__ps"]:
                bits[p // 8] |= 1 << (p % 8)
            # file paths inside the version dir only — relative keys
            # keep the sidecar valid when hard-linked forward;
            # input_file_name() is a URI (percent-escaped), so decode
            # before relpath or keys with spaces never match the
            # os.walk names and those files are silently re-scanned
            rel = os.path.relpath(
                local_path_from_uri(r["__f"]), version_dir
            )
            sidecar[rel] = bytes(bits).hex()
    tmp = _sidecar_path(version_dir, col) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"n_bits": n_bits, "n_hashes": n_hashes, "files": sidecar}, f)
    os.replace(tmp, _sidecar_path(version_dir, col))
    return len(missing)


def candidate_files(
    store: TableStore,
    name: str,
    col: str,
    value,
    version_dir: str | None = None,
) -> list[str] | None:
    """Absolute paths of files that might contain ``value`` — or None
    when no sidecar exists for this version (caller must full-scan).
    The membership test runs driver-side over metadata: k positions
    against each file's bitset. ``version_dir`` pins the snapshot: the
    ``read_where*`` callers resolve it ONCE and pass it in, so a
    concurrent commit between candidate evaluations cannot intersect
    sets from different versions (which would silently go empty)."""
    if version_dir is None:
        version_dir = store.current_path(name)
    path = _sidecar_path(version_dir, col)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        meta = json.load(f)
    n_bits, n_hashes = meta["n_bits"], meta["n_hashes"]
    spark = store.spark
    # one 1-row jvm-side eval keeps the hash function IDENTICAL to the
    # build side (no python reimplementation to drift); the literal is
    # cast to the STORED column type first — xxhash64 is type-sensitive
    # (an int literal and a bigint column hash differently)
    col_type = dict(store.read(name).dtypes)[col]
    probe = F.lit(value).cast(col_type)
    positions = (
        spark.range(1)
        .select(
            *[
                F.pmod(F.xxhash64(probe, F.lit(i)), F.lit(n_bits)).alias(
                    f"p{i}"
                )
                for i in range(n_hashes)
            ]
        )
        .collect()[0]
    )
    indexed = meta["files"]
    out = []
    for rel in _version_parquet_files(version_dir):
        hexbits = indexed.get(rel)
        if hexbits is None:
            # carried-forward sidecars are PARTIAL: a file rewritten
            # since the last build has no entry and must be read —
            # one-sided, same as a bloom false positive
            out.append(os.path.join(version_dir, rel))
            continue
        bits = bytes.fromhex(hexbits)
        if all(
            bits[p // 8] & (1 << (p % 8))
            for p in (positions[i] for i in range(n_hashes))
        ):
            out.append(os.path.join(version_dir, rel))
    return out


def read_where_eq(
    store: TableStore, name: str, col: str, value
) -> tuple[DataFrame, int, int]:
    """Point lookup ``col = value`` through the bloom index. Returns
    (rows, files_read, files_total): only candidate files are opened
    (with ``basePath`` so partition columns survive); the residual
    equality filter drops bloom false positives. Falls back to a full
    scan when the sidecar is absent."""
    version_dir = store.current_path(name)
    total = sum(
        1
        for root, _, fs in os.walk(version_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    cand = candidate_files(store, name, col, value, version_dir=version_dir)
    if cand is None:
        return store.read(name).filter(F.col(col) == F.lit(value)), total, total
    if not cand:
        return (
            store.read(name).filter(F.lit(False)),
            0,
            total,
        )
    # the version read DV-wraps the direct file read and lifts physical
    # names to logical ones (both no-ops without a DV / mapping)
    df = store._read_version(version_dir, cand).filter(
        F.col(col) == F.lit(value)
    )
    return df, len(cand), total


# --- secondary-column min/max skipping (the OPTIMIZE ZORDER companion) ----


def _minmax_path(version_dir: str, col: str) -> str:
    return os.path.join(version_dir, f"_MINMAX.{col}.json")


def build_minmax_sidecar(store: TableStore, name: str, col: str) -> int:
    """Per-file [min, max] bounds of an ARBITRARY column for the
    table's CURRENT version — the secondary-column generalization of
    merge-key file stats in each version's commit record, and the read
    side of ``optimize(zorder_by=...)``: after a Z-order rewrite each file
    covers a tight range of BOTH clustered columns, so range probes on
    EITHER prune to the few intersecting files. Returns the number of
    files scanned. INCREMENTAL across mutations exactly like the bloom
    sidecar: every DML carries the entries of hard-linked files
    forward (``TableStore._carry_bloom_sidecars`` handles both
    prefixes), so a re-run scans only rewritten files; departed
    entries drop. Bounds are exact (one min/max agg per file), so
    pruning is one-sided: a file is skipped ONLY when its true range
    cannot intersect the probe."""
    version_dir = store.current_path(name)
    if version_dir is None:
        raise ValueError(f"table {name!r} does not exist")
    existing: dict[str, list] = {}
    path = _minmax_path(version_dir, col)
    if os.path.exists(path):
        try:
            with open(path) as f:
                existing = json.load(f)["files"]
        except Exception:
            existing = {}  # torn sidecar: rebuild everything
    all_rel = _version_parquet_files(version_dir)
    sidecar = {rel: existing[rel] for rel in all_rel if rel in existing}
    missing = [rel for rel in all_rel if rel not in existing]
    if missing:
        df = _logical_files(store, version_dir, missing)
        per_file = (
            df.select(F.input_file_name().alias("__f"), F.col(col))
            .groupBy("__f")
            .agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"))
            .collect()  # one row per file — metadata-scale
        )
        for r in per_file:
            rel = os.path.relpath(
                local_path_from_uri(r["__f"]), version_dir
            )
            lo, hi = r["__lo"], r["__hi"]
            # JSON-native bounds only: Decimal/date/timestamp bounds
            # (reachable after a widen to decimal / timestamp_ntz)
            # neither serialize nor compare consistently once round-
            # tripped — store None = 'no stats, always a candidate'
            # (the documented one-sided fallback), never a lossy cast
            ok = all(
                isinstance(v, (int, float, str, bool, type(None)))
                for v in (lo, hi)
            )
            sidecar[rel] = [lo, hi] if ok else None
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"col": col, "files": sidecar}, f)
    os.replace(tmp, path)
    return len(missing)


def candidate_files_range(
    store: TableStore,
    name: str,
    col: str,
    lo,
    hi,
    version_dir: str | None = None,
) -> list[str] | None:
    """Absolute paths of files whose [min, max] can intersect
    [lo, hi] — or None when no sidecar exists for this version (caller
    must full-scan). Driver-side metadata test; files without an entry
    (rewritten since the last build) are always candidates —
    one-sided, never a missed row. ``version_dir`` pins the snapshot
    (see ``candidate_files``)."""
    if version_dir is None:
        version_dir = store.current_path(name)
    path = _minmax_path(version_dir, col)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        indexed = json.load(f)["files"]
    out = []
    for rel in _version_parquet_files(version_dir):
        bounds = indexed.get(rel)
        if bounds is None or bounds[0] is None or bounds[1] is None:
            out.append(os.path.join(version_dir, rel))
            continue
        if not (bounds[1] < lo or bounds[0] > hi):
            out.append(os.path.join(version_dir, rel))
    return out


def read_where_between(
    store: TableStore, name: str, col: str, lo, hi
) -> tuple[DataFrame, int, int]:
    """Range scan ``col BETWEEN lo AND hi`` through the min/max
    sidecar. Returns (rows, files_read, files_total): only candidate
    files are opened (``basePath`` keeps partition columns); the
    residual BETWEEN filter is exact. Falls back to a full scan when
    the sidecar is absent."""
    version_dir = store.current_path(name)
    total = len(_version_parquet_files(version_dir))
    cand = candidate_files_range(
        store, name, col, lo, hi, version_dir=version_dir
    )
    cond = F.col(col).between(F.lit(lo), F.lit(hi))
    if cand is None:
        return store.read(name).filter(cond), total, total
    if not cand:
        return store.read(name).filter(F.lit(False)), 0, total
    return (
        store._read_version(version_dir, cand).filter(cond),
        len(cand),
        total,
    )


def read_where(
    store: TableStore,
    name: str,
    eq: dict | None = None,
    ranges: dict | None = None,
) -> tuple[DataFrame, int, int]:
    """Composed file-skipping scan — the multi-predicate form behind
    a Z-ordered table's BOX query (``x BETWEEN .. AND y BETWEEN ..``,
    where pruning multiplies across dimensions) and mixed
    point+range lookups: per-column candidate sets INTERSECT, each
    column contributing whatever sidecars it has — the bloom bitset
    for an equality predicate, the min/max bounds for ranges AND
    equalities (an ``=v`` probe is the degenerate ``[v, v]`` range) —
    and the final pruned read applies the full residual filter, so
    extra candidates cost reads, never wrong rows. Columns with no
    sidecar contribute nothing (their predicate is residual-only);
    with no sidecar anywhere this degrades to a full scan with the
    filter, the correct fallback. Returns
    (rows, files_read, files_total)."""
    version_dir = store.current_path(name)
    if version_dir is None:
        raise FileNotFoundError(f"table {name} does not exist")
    total = len(_version_parquet_files(version_dir))
    cand: set[str] | None = None  # None = no sidecar narrowed anything

    def narrow(files: list[str] | None) -> None:
        nonlocal cand
        if files is None:
            return
        cand = set(files) if cand is None else cand & set(files)

    cond = F.lit(True)
    for col, value in (eq or {}).items():
        narrow(candidate_files(store, name, col, value, version_dir=version_dir))
        narrow(
            candidate_files_range(
                store, name, col, value, value, version_dir=version_dir
            )
        )
        cond = cond & (F.col(col) == F.lit(value))
    for col, (lo, hi) in (ranges or {}).items():
        narrow(
            candidate_files_range(
                store, name, col, lo, hi, version_dir=version_dir
            )
        )
        cond = cond & F.col(col).between(F.lit(lo), F.lit(hi))
    if cand is None:
        return store.read(name).filter(cond), total, total
    if not cand:
        return store.read(name).filter(F.lit(False)), 0, total
    return (
        store._read_version(version_dir, sorted(cand)).filter(cond),
        len(cand),
        total,
    )
