"""Minimal snapshot-isolated table format over plain parquet.

The reference has no mutation surface at all (its parser rejects
non-SELECT, gpu-olap-core/src/parser.rs:18-21); this module supplies
the 100 TB answer the plain-directory writers in ``sources`` cannot:
MERGE / DELETE with **snapshot isolation**, concurrent-reader safety,
and time travel — the essential subset of what Delta Lake / Apache
Iceberg provide, reimplemented dependency-free because neither package
exists in this environment (ROADMAP.md item 1).

Layout::

    table_dir/
      _commits/000000000000.json   # versioned manifests (commit log)
      data/txn-<uuid>/part-*.parquet   # immutable data files

A manifest is the complete state of one table version: the list of
data files, the schema, and application metadata (used by the
streaming sink for exactly-once batch ids). Data files are immutable
once written; a transaction writes NEW files under a fresh
``data/txn-*`` directory and then publishes a new manifest.

Commit protocol (single atomic step)::

    write manifest JSON to a temp name in _commits/  (+ fsync)
    os.link(temp, _commits/<version>.json)           # THE commit
    unlink temp

``os.link`` is atomic and fails with EEXIST if the version was
already committed — that failure IS the optimistic-concurrency
conflict signal (``CommitConflict``); the caller re-reads the new
latest version and retries. Readers list ``_commits``, take the
highest version, and read exactly the files that manifest names:
because data files are immutable and the manifest appears atomically,
a reader always sees a complete committed snapshot — never a
half-written mix — even while writers commit concurrently. A crash
at ANY point before the link leaves the table at the old version with
only orphaned (unreferenced) data files, which ``vacuum_table``
removes.

One commit step: every mutation only chooses which files to drop and
what to write; ``_commit`` writes it as one txn directory and builds
the next manifest. Files are the old list minus the dropped ones plus
the new ones; stats are carried for the surviving files and read from
the footers of the new files only; the schema, the app-id ledger and
the Bloom column list carry forward (an append may widen the schema,
an ``app_id`` advances its ledger entry). ``_commit`` is the only
caller of ``_publish``, so a manifest field is decided in one place.

At 100 TB the same design holds: the manifest is metadata-only
(file names + stats), commits are O(1) renames on the metadata
store, and MERGE/DELETE rewrite only the files that actually contain
matching keys, not the table. One aggregation on ``input_file_name``
counts the matching rows per file (``_matched_rows``); DELETE compares
those counts with the manifest's per-file row counts, so a fully
matched file is dropped without a write and the deleted count needs
no further pass. Every internal read goes through the manifest's
schema (``_read_files``), never Spark's schema inference, which would
cost a footer-reading job per read. A production deployment would
shard the file list into Iceberg-style manifest files once it exceeds
a few million entries; the commit protocol is unchanged by that.

Data skipping (Delta/Iceberg-style): every committed file carries
per-column min/max/null-count stats in the manifest, harvested from
the parquet FOOTERS at commit time (metadata-only — no data pass; on
a cluster each executor would report the footers of the files it just
wrote). ``read_snapshot(..., predicate=[(col, op, lit), ...])``
drops files whose stat range provably excludes the conjunction
BEFORE Spark ever lists them — at 100 TB this is the difference
between a point lookup touching O(selectivity) files and planning a
million-file scan. ``merge_into`` uses the same stats to pre-prune
its touched-file search to files whose key range intersects the
update batch. Pruning is conservative: a file with missing stats (or
a string column, where parquet footer truncation can make the stored
max an unsafe bound) is always kept, so results never change — only
the file list shrinks.

Bloom-filter skipping (round 7): min/max ranges cannot exclude files
for an EQUALITY probe on a high-cardinality key whose values
interleave across files — every file's range spans the whole domain,
so a point lookup still plans every file. Tables created with
``create_table(..., bloom_columns=[...])`` carry a per-file Bloom
filter over each declared column's distinct values (~9.6 bits/key,
k=7, ~1% false positives) in the manifest; ``read_snapshot`` /
``prune_files`` consult it for ``=`` conjuncts and drop files whose
filter proves the value absent. This also covers STRING keys, which
the range stats deliberately never prune on (footer truncation).
The one commit step builds filters for the files each commit writes
and carries the column list forward, so the skipping survives the
table's whole lifecycle. False positives only ever ADD files to the
scan — results never change.

Schema evolution: ``append_table(..., merge_schema=True)`` widens the
table schema with the batch's new columns (additive only — a changed
dtype for an existing name is rejected). Old files are read through
the widened schema, so pre-evolution rows surface NULL for the new
columns, and time travel to old versions still sees the old schema.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_COMMITS = "_commits"
_DATA = "data"


class CommitConflict(RuntimeError):
    """Another writer committed this version first; re-read and retry."""


def _commits_dir(path: str) -> str:
    return os.path.join(path, _COMMITS)


def _version_of(fname: str) -> int:
    return int(fname.split(".")[0])


def _list_versions(path: str) -> list[int]:
    d = _commits_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        _version_of(f)
        for f in os.listdir(d)
        if f.endswith(".json") and not f.startswith(".")
    )


def latest_version(path: str) -> int:
    versions = _list_versions(path)
    if not versions:
        raise ValueError(f"not a snapshot table (no commits): {path!r}")
    return versions[-1]


def _load_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_commits_dir(path), f"{version:012d}.json")) as f:
        return json.load(f)


def _publish(path: str, version: int, manifest: dict) -> None:
    """Atomically publish `manifest` as `version`; CommitConflict if a
    concurrent writer got there first. os.link never overwrites, so
    exactly one of two racing commits for the same version wins."""
    d = _commits_dir(path)
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(d, f"{version:012d}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} of {path!r} was committed concurrently"
        ) from None
    finally:
        os.unlink(tmp)


def _write_txn_files(df: DataFrame, path: str) -> list[str]:
    """Write `df` as a new immutable transaction directory; return the
    manifest-relative paths of the parquet files produced."""
    txn = os.path.join(_DATA, f"txn-{uuid.uuid4().hex}")
    df.write.mode("error").parquet(os.path.join(path, txn))
    out = sorted(
        os.path.join(txn, f)
        for f in os.listdir(os.path.join(path, txn))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    return out


def _stat_value(v):
    """JSON-safe (tag, value) for a footer min/max. Tag 'n' compares
    numerically, 'd' lexicographically over ISO-8601 (zero-padded, so
    string order == time order). Strings return tag 's' and are stored
    for introspection but never used to prune: parquet writers may
    truncate long string bounds, which keeps min a valid lower bound
    but can make the stored max smaller than the true max."""
    import datetime  # noqa: PLC0415

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        # ints stay exact: Python's mixed int/float comparisons are
        # mathematically correct, floats would misprune near 2**53
        return ("n", v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # tz-aware footer stats (pyarrow yields these for
        # TIMESTAMP_MICROS columns) isoformat with a '+00:00' suffix,
        # which compares lexicographically against naive session-local
        # literals in the WRONG order — pruning on them silently drops
        # matching files (merge_into would then commit duplicate keys).
        # Store-only, never prune.
        return ("s", v.isoformat())
    if isinstance(v, (datetime.date, datetime.datetime)):
        return ("d", v.isoformat())
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return ("s", v)
    return None


# ~9.6 bits per distinct key with k=7 hash probes gives ~1% false
# positives (standard Bloom sizing at p=0.01); double hashing from one
# 128-bit blake2b digest (Kirsch-Mitzenmacher) keeps the per-value
# cost at a single hash call.
_BLOOM_BITS_PER_KEY = 9.585
_BLOOM_K = 7


def _bloom_key_bytes(v):
    """Canonical hash input for a bloom-able value, or None if the
    type cannot be a bloom key (floats: equality probes on them are
    pathological; bools: 2-value domains need no filter)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, str):
        return b"s" + v.encode("utf-8")
    if isinstance(v, bytes):
        return b"s" + v
    return None


def _bloom_probes(data: bytes, m: int):
    import hashlib  # noqa: PLC0415

    d = hashlib.blake2b(data, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    for i in range(_BLOOM_K):
        yield (h1 + i * h2) % m


def _build_bloom(values) -> dict | None:
    """Bloom filter over one file's distinct non-null values of one
    column. Returns None when any value's type is not bloom-able (the
    column is then simply never bloom-pruned). On a cluster each
    writer task would fold this in while writing its file — the same
    single pass that produces the footer stats."""
    import base64  # noqa: PLC0415
    import math  # noqa: PLC0415

    keys: set[bytes] = set()
    tag = None
    for v in values:
        if v is None:
            continue
        b = _bloom_key_bytes(v)
        if b is None:
            return None
        t = b[:1].decode()
        if tag is None:
            tag = t
        elif tag != t:
            return None
        keys.add(b)
    m = max(64, int(math.ceil(max(1, len(keys)) * _BLOOM_BITS_PER_KEY)))
    m = (m + 7) // 8 * 8
    bits = bytearray(m // 8)
    for b in keys:
        for idx in _bloom_probes(b, m):
            bits[idx >> 3] |= 1 << (idx & 7)
    return {
        "t": tag or "i",
        "m": m,
        "b": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def _bloom_may_contain(bloom: dict, lit) -> bool:
    """Three-valued membership: False only when the filter PROVES the
    literal absent from the file; type mismatches answer True (no
    pruning) so a sloppy literal can never drop a matching file."""
    import base64  # noqa: PLC0415

    if isinstance(lit, bool):
        return True
    if isinstance(lit, float) and lit.is_integer():
        lit = int(lit)  # 42.0 = int_col CAN match the int 42
    data = _bloom_key_bytes(lit)
    if data is None or data[:1].decode() != bloom["t"]:
        return True
    bits = base64.b64decode(bloom["b"])
    return all(
        bits[idx >> 3] & (1 << (idx & 7))
        for idx in _bloom_probes(data, bloom["m"])
    )


def _stats_for(
    path: str, files: list[str], bloom_cols: list[str] | None = None
) -> dict[str, dict]:
    """Per-file column stats from parquet footers (metadata-only read;
    the cluster analog is each writer task reporting the footers it
    just produced). Shape per file::

        {"rows": n, "cols": {name: {"t": tag, "lo": x, "hi": y,
                                    "nulls": n_null}}}

    A column missing from "cols" (nested, all-null, unsupported type,
    or absent footer stats) is simply never pruned on. With
    `bloom_cols`, each file additionally carries a "bloom" map for
    those columns (int/string only) built from the column's values —
    this is the ONE data read in the commit path, and only of the
    declared key columns of the files just written."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    out: dict[str, dict] = {}
    for rel in files:
        pf = pq.ParquetFile(os.path.join(path, rel))
        md = pf.metadata
        cols: dict[str, dict] = {}
        bad: set[str] = set()
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                name = c.path_in_schema
                if "." in name or name in bad:
                    continue
                st = c.statistics
                if st is None or not st.has_min_max:
                    bad.add(name)
                    cols.pop(name, None)
                    continue
                lo, hi = _stat_value(st.min), _stat_value(st.max)
                if lo is None or hi is None or lo[0] != hi[0]:
                    bad.add(name)
                    cols.pop(name, None)
                    continue
                nulls = st.null_count if st.has_null_count else None
                prev = cols.get(name)
                if prev is None:
                    cols[name] = {
                        "t": lo[0], "lo": lo[1], "hi": hi[1], "nulls": nulls,
                    }
                else:
                    prev["lo"] = min(prev["lo"], lo[1])
                    prev["hi"] = max(prev["hi"], hi[1])
                    prev["nulls"] = (
                        None if (prev["nulls"] is None or nulls is None)
                        else prev["nulls"] + nulls
                    )
        out[rel] = {"rows": md.num_rows, "cols": cols}
        want = [c for c in (bloom_cols or []) if c in pf.schema_arrow.names]
        if want:
            tbl = pf.read(columns=want)
            blooms = {
                c: bl
                for c in want
                if (bl := _build_bloom(tbl.column(c).to_pylist())) is not None
            }
            if blooms:
                out[rel]["bloom"] = blooms
    return out


# Predicate conjuncts accepted by read_snapshot / _file_may_match:
# (column, op, literal) with op in _OPS. Evaluated against file stat
# ranges three-valued: True = file may contain a matching row.
_OPS = ("=", "<", "<=", ">", ">=")


def _file_may_match(fstats: dict | None, predicate) -> bool:
    """Conservative file-level test: False only when the stats PROVE no
    row in the file satisfies every conjunct."""
    import datetime  # noqa: PLC0415

    if not fstats:
        return True
    if fstats.get("rows") == 0:
        return False
    for col, op, lit in predicate:
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
        if op == "=":
            # bloom check first: it also covers string keys, which the
            # range stats below deliberately never prune on
            bl = fstats.get("bloom", {}).get(col)
            if bl is not None and not _bloom_may_contain(bl, lit):
                return False
        cs = fstats.get("cols", {}).get(col)
        if cs is None or cs["t"] == "s":
            continue  # no safe bounds -> cannot exclude
        lo, hi = cs["lo"], cs["hi"]
        if cs["t"] == "d":
            if isinstance(lit, str):
                # strict ISO-8601 only: a malformed literal like
                # '2026/08/14' compares lexicographically in the wrong
                # order and would wrongly EXCLUDE files — fail loud,
                # matching the numeric branch. Parse (not just
                # validate) so a space-separated timestamp string
                # re-isoformats with the 'T' the stored bounds use.
                try:
                    lit = datetime.datetime.fromisoformat(lit)
                except ValueError:
                    try:
                        lit = datetime.date.fromisoformat(lit)
                    except ValueError:
                        raise ValueError(
                            f"date/timestamp column {col!r} needs a "
                            f"date, datetime, or ISO-8601 string "
                            f"literal, got {lit!r}"
                        ) from None
            if isinstance(lit, datetime.datetime):
                if lit.tzinfo is not None:
                    # naive footer bounds vs tz-aware literal is
                    # ambiguous without a session tz: don't prune on
                    # this conjunct (row-level filter still applies)
                    continue
                lit = lit.isoformat()
            elif isinstance(lit, datetime.date):
                lit = lit.isoformat()
            else:
                raise ValueError(
                    f"date/timestamp column {col!r} needs a date, "
                    f"datetime, or ISO-8601 string literal, got {lit!r}"
                )
            # Granularity normalization: a DATE column's bounds store
            # as 'YYYY-MM-DD' while a midnight datetime literal
            # isoformats to 'YYYY-MM-DDT00:00:00' — lexicographically
            # GREATER than its own date, so an unpadded compare
            # wrongly excludes the file holding the matching date
            # (Spark casts date to midnight timestamp and matches the
            # row). Pad every date-only string — literal AND bounds —
            # to midnight-timestamp granularity; that is exactly
            # Spark's date->timestamp promotion, so comparisons stay
            # exact in both mismatch directions.
            if "T" not in lit:
                lit += "T00:00:00"
            lo = lo if "T" in lo else lo + "T00:00:00"
            hi = hi if "T" in hi else hi + "T00:00:00"
        elif cs["t"] == "n":
            if not isinstance(lit, (int, float)) or isinstance(lit, bool):
                raise ValueError(
                    f"numeric column {col!r} needs a numeric literal, "
                    f"got {lit!r}"
                )
        if (
            (op == "=" and not (lo <= lit <= hi))
            or (op == "<" and lo >= lit)
            or (op == "<=" and lo > lit)
            or (op == ">" and hi <= lit)
            or (op == ">=" and hi < lit)
        ):
            return False
    return True


def prune_files(
    path: str, version: int | None, predicate
) -> tuple[list[str], int]:
    """(surviving manifest-relative files, total files in the
    snapshot) for a conjunctive predicate — the data-skipping planner,
    exposed for tests and for scan-efficiency introspection."""
    v = latest_version(path) if version is None else version
    manifest = _load_manifest(path, v)
    stats = manifest.get("stats", {})
    kept = [
        f for f in manifest["files"]
        if _file_may_match(stats.get(f), predicate)
    ]
    return kept, len(manifest["files"])


def _commit(
    path: str,
    v: int,
    manifest: dict,
    op: str,
    drop: set[str],
    df: DataFrame | None = None,
    schema: dict | None = None,
    app_id: tuple[str, int] | None = None,
) -> int:
    """Publish version `v + 1`: `manifest` (version `v`) minus the files
    in `drop`, plus `df` written as one new txn directory. The stats of
    surviving files carry over and only the new files' footers are
    read; schema, app ledger and Bloom columns carry forward unless
    `schema` replaces the schema or `app_id` advances its ledger entry.
    The one commit step of every mutation; returns the new version.

    A new file whose footer counts 0 rows (an empty batch writes one)
    is deleted, not published. A commit that then adds and drops no
    file and changes neither schema nor ledger publishes nothing and
    returns `v`."""
    files = _write_txn_files(df, path) if df is not None else []
    bloom_cols = manifest.get("bloom_columns", [])
    new_stats = _stats_for(path, files, bloom_cols)
    for f in [f for f in files if new_stats[f]["rows"] == 0]:
        os.unlink(os.path.join(path, f))
        del new_stats[f]
    if files and not new_stats:  # every new file was empty
        shutil.rmtree(os.path.join(path, os.path.dirname(files[0])))
    files = [f for f in files if f in new_stats]
    if v >= 0 and not files and not drop and schema is None and app_id is None:
        return v
    app_ids = dict(manifest.get("app_ids", {}))
    if app_id is not None:
        app_ids[app_id[0]] = app_id[1]
    _publish(path, v + 1, {
        "version": v + 1,
        "op": op,
        "files": [f for f in manifest["files"] if f not in drop] + files,
        "schema": manifest["schema"] if schema is None else schema,
        "app_ids": app_ids,
        "bloom_columns": bloom_cols,
        "stats": {
            **{f: st for f, st in manifest.get("stats", {}).items() if f not in drop},
            **new_stats,
        },
    })
    return v + 1


def create_table(
    df: DataFrame, path: str, bloom_columns: list[str] | None = None
) -> int:
    """Create a snapshot table at `path` from `df` (version 0).

    `bloom_columns` declares int/string columns that get per-file
    Bloom filters in every manifest from now on (carried through all
    mutations) — the point-lookup data-skipping path for keys whose
    values interleave across files and for string keys, neither of
    which min/max ranges can exclude."""
    if _list_versions(path):
        raise ValueError(f"table already exists: {path!r}")
    bloom_cols = sorted(bloom_columns or [])
    missing = [c for c in bloom_cols if c not in df.columns]
    if missing:
        raise ValueError(f"bloom_columns not in schema: {missing}")
    os.makedirs(_commits_dir(path), exist_ok=True)
    os.makedirs(os.path.join(path, _DATA), exist_ok=True)
    empty = {"files": [], "schema": df.schema.jsonValue(), "bloom_columns": bloom_cols}
    return _commit(path, -1, empty, "create", set(), df)


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate=None,
) -> DataFrame:
    """Read one committed version (latest by default — time travel by
    passing an older `version`). The returned DataFrame is pinned to
    that snapshot's immutable files: later commits never change what
    it reads (vacuum of still-referenced versions is the only way to
    invalidate it).

    `predicate=[(col, op, literal), ...]` (AND of conjuncts, op in
    =/</<=/>/>=) activates manifest-level data skipping: files whose
    footer-stat ranges provably exclude the conjunction are dropped
    from the scan plan entirely, and the predicate is ALSO applied
    row-level to the surviving files, so the result equals filtering
    the full snapshot — only cheaper."""
    v = latest_version(path) if version is None else version
    manifest = _load_manifest(path, v)
    schema = StructType.fromJson(manifest["schema"])
    if predicate:
        rel, _total = prune_files(path, v, predicate)
    else:
        rel = manifest["files"]
    files = [os.path.join(path, f) for f in rel]
    if not files:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(*files)
    if predicate:
        for col, op, lit in predicate:
            c = F.col(col)
            df = df.filter(
                {"=": c == lit, "<": c < lit, "<=": c <= lit,
                 ">": c > lit, ">=": c >= lit}[op]
            )
    return df


def append_table(df: DataFrame, path: str, merge_schema: bool = False) -> int:
    """Append rows as a new version (no rewrite of existing files).

    With `merge_schema=True` the batch may carry columns the table has
    never seen: the table schema is widened additively in the same
    commit, old files read through the widened schema surface NULL for
    the new columns, and time travel to earlier versions still sees
    the old schema. A changed dtype for an existing column is rejected
    either way (evolution is add-only, like Delta's mergeSchema). The
    batch may also OMIT existing columns — they land as NULL."""
    v = latest_version(path)
    manifest = _load_manifest(path, v)
    table_schema = StructType.fromJson(manifest["schema"])
    by_name = {f.name: f for f in table_schema.fields}
    added = []
    for f in df.schema.fields:
        have = by_name.get(f.name)
        if have is None:
            added.append(f)
        elif have.dataType != f.dataType:
            raise ValueError(
                f"column {f.name!r} type change "
                f"{have.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()} is not supported"
            )
    if added and not merge_schema:
        raise ValueError(
            f"batch adds columns {[f.name for f in added]}; "
            "pass merge_schema=True to evolve the table schema"
        )
    new_schema = StructType(table_schema.fields + added)
    aligned = df.select(
        *[
            F.col(f.name) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in new_schema.fields
        ]
    )
    return _commit(
        path, v, manifest, "append", set(), aligned, schema=new_schema.jsonValue()
    )


def _file_uri_to_rel(path: str, uri: str) -> str:
    """Map an input_file_name() URI back to a manifest-relative path."""
    p = unquote(urlparse(uri).path)
    return os.path.relpath(p, os.path.abspath(path))


def _read_files(
    spark: SparkSession, path: str, manifest: dict, files: list[str]
) -> DataFrame:
    """Read manifest-relative `files` through the manifest's schema.
    Pinning the schema skips Spark's schema-inference job (a footer
    read of every file) and reads pre-evolution files through the
    widened schema, as read_snapshot does."""
    return spark.read.schema(StructType.fromJson(manifest["schema"])).parquet(
        *[os.path.join(path, f) for f in files]
    )


def _matched_rows(
    spark: SparkSession, path: str, manifest: dict, files: list[str], matcher
) -> dict[str, int]:
    """{manifest-relative file: rows selected by `matcher`} over the
    files of `files` that hold at least one such row. `matcher` maps a
    DataFrame to its selected rows (a filter or a semi-join). One
    aggregation on input_file_name; driver-side size is O(#files) —
    metadata, not data."""
    if not files:
        return {}
    tagged = matcher(
        _read_files(spark, path, manifest, files)
        .withColumn("__file", F.input_file_name())
    )
    counts = tagged.groupBy("__file").count().collect()
    # resolve through the manifest list so the returned names are the
    # manifest's own strings (realpath/symlink differences can make
    # relpath disagree byte-for-byte)
    by_base = {os.path.basename(f): f for f in files}
    return {
        by_base[os.path.basename(_file_uri_to_rel(path, r["__file"]))]: r["count"]
        for r in counts
    }


def _files_with_keys(
    spark: SparkSession, path: str, manifest: dict, keys: DataFrame,
    key: list[str],
) -> list[str]:
    """Sorted manifest-relative files holding a row whose `key` appears
    in `keys`. With a single-column key, the manifest stats first drop
    files whose key range cannot intersect the batch's [min, max], so
    a selective merge scans O(matched files), planned from metadata
    alone."""
    candidates = manifest["files"]
    stats = manifest.get("stats", {})
    if len(key) == 1 and stats:
        row = keys.agg(
            F.min(key[0]).alias("lo"), F.max(key[0]).alias("hi")
        ).collect()[0]
        if row["lo"] is None:
            return []
        rng = [(key[0], ">=", row["lo"]), (key[0], "<=", row["hi"])]
        candidates = [
            f for f in candidates if _file_may_match(stats.get(f), rng)
        ]
    return sorted(_matched_rows(
        spark, path, manifest, candidates,
        lambda df: df.join(keys, key, "left_semi"),
    ))


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: list[str],
    app_id: tuple[str, int] | None = None,
) -> dict:
    """MERGE by key with snapshot isolation: existing rows whose key
    appears in `updates` are replaced, new keys inserted — as ONE
    atomic commit. Only data files that actually contain a matched key
    are rewritten (found via an input_file_name semi-join, so a
    selective merge into a huge table touches O(matched files), not
    the table). Readers of the previous version are unaffected.

    `app_id=(ledger_key, batch_id)` gives exactly-once semantics to
    replayed writers (streaming foreachBatch): the pair is recorded IN
    the same manifest as the data, so either both the merge and its
    ledger entry are visible or neither is — a redelivered batch whose
    id is already recorded is skipped. Raises CommitConflict if a
    concurrent writer commits first (caller retries on the new latest).

    Semantics notes: rows in `updates` sharing a key ALL land (replace-
    with-provided-rows, not Delta's multiple-match error — pre-aggregate
    if one-row-per-key matters). `updates`' lineage is evaluated up to
    four times (the key-range aggregate of the stats fast path, the
    touched-file semi-join, and the anti-join and union of the write);
    callers with an expensive update pipeline should persist() it.
    Keys are not deduplicated: semi and anti joins ignore duplicates.
    A merge is ``apply_changes`` with no delete keys, committed as op
    "merge".
    """
    return _apply_keyed(spark, path, updates, None, key, app_id, "merge")


def delete_where(spark: SparkSession, path: str, predicate: str) -> int:
    """Delete rows matching a SQL predicate, snapshot-isolated. Returns
    rows deleted.

    A row is deleted only where the predicate is TRUE; a row where it
    is NULL (e.g. `q < 0.5` on a NULL q) is kept, as SQL DELETE keeps
    it. One aggregation counts the matching rows per file; a file
    whose every row matches (per its manifest row count) is dropped
    from the manifest without a write, a partly matching file is
    rewritten as its keep side, and all other files carry over
    untouched."""
    v = latest_version(path)
    manifest = _load_manifest(path, v)
    matched = _matched_rows(
        spark, path, manifest, manifest["files"],
        lambda df: df.filter(predicate),
    )
    if not matched:
        return 0
    stats = manifest.get("stats", {})
    partial = sorted(
        f for f, n in matched.items() if stats.get(f, {}).get("rows") != n
    )
    kept = None
    if partial:
        kept = _read_files(spark, path, manifest, partial).filter(
            f"NOT coalesce(({predicate}), false)"
        )
    _commit(path, v, manifest, "delete", set(matched), kept)
    return sum(matched.values())


def compact_table(spark: SparkSession, path: str, target_files: int) -> int:
    """Rewrite the current snapshot into `target_files` files as a new
    version (readers of old versions keep their snapshot)."""
    v = latest_version(path)
    manifest = _load_manifest(path, v)
    df = read_snapshot(spark, path, v).repartition(target_files)
    return _commit(path, v, manifest, "compact", set(manifest["files"]), df)


def history(path: str) -> list[dict]:
    """Commit log: one {version, op, n_files} summary per version."""
    out = []
    for v in _list_versions(path):
        m = _load_manifest(path, v)
        out.append({"version": v, "op": m["op"], "n_files": len(m["files"])})
    return out


def vacuum_table(path: str, keep_versions: int = 1) -> int:
    """Drop manifests older than the newest `keep_versions` and delete
    every data file no retained manifest references (including orphans
    from crashed transactions that never committed). Returns the
    number of txn directories removed. Time travel reaches only
    retained versions afterwards."""
    versions = _list_versions(path)
    keep = versions[-max(keep_versions, 1) :]
    referenced: set[str] = set()
    for v in keep:
        for f in _load_manifest(path, v)["files"]:
            referenced.add(f.split(os.sep)[1])  # data/<txn>/part -> <txn>
    for v in versions:
        if v not in keep:
            os.unlink(os.path.join(_commits_dir(path), f"{v:012d}.json"))
    removed = 0
    data_dir = os.path.join(path, _DATA)
    for txn in os.listdir(data_dir):
        if txn not in referenced:
            shutil.rmtree(os.path.join(data_dir, txn))
            removed += 1
    return removed


def table_changes(
    spark: SparkSession, path: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """File-granular change feed between two committed versions (the
    Iceberg changelog-scan / Delta CDF analog at file resolution):
    rows in files ADDED across (from_version, to_version] surface with
    `_change_type='insert'`, rows in files REMOVED surface as
    `_change_type='delete'`, each stamped with `_commit_version`.
    Net-application reconstructs the target snapshot exactly::

        state(to) == state(from) - deletes + inserts   (as multisets)

    A file rewritten by MERGE/DELETE/compact appears on both sides
    (its surviving rows delete+insert) — consumers needing row-level
    minimality aggregate by key downstream; consumers feeding an
    idempotent MERGE sink don't care. Incremental pipelines at 100 TB
    read ONLY the files that changed since their last sync — the
    manifest diff is metadata-only, no table scan."""
    v_hi = latest_version(path) if to_version is None else to_version
    if from_version > v_hi:
        raise ValueError(f"from_version {from_version} > to_version {v_hi}")
    hi = _load_manifest(path, v_hi)
    prev = set(_load_manifest(path, from_version)["files"])
    parts = []
    for v in range(from_version + 1, v_hi + 1):
        cur = set(_load_manifest(path, v)["files"])
        for op, rel_files in (
            ("insert", sorted(cur - prev)),
            ("delete", sorted(prev - cur)),
        ):
            if not rel_files:
                continue
            parts.append(
                _read_files(spark, path, hi, rel_files)
                .withColumn("_change_type", F.lit(op))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
        prev = cur
    if not parts:
        empty = spark.createDataFrame([], StructType.fromJson(hi["schema"]))
        return empty.withColumn("_change_type", F.lit("insert")).withColumn(
            "_commit_version", F.lit(0).cast("long")
        ).limit(0)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def apply_changes(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None,
    delete_keys: DataFrame | None,
    key: list[str],
    app_id: tuple[str, int] | None = None,
) -> dict:
    """Keyed CDC apply (the APPLY CHANGES INTO primitive): rows whose
    key appears in `upserts` are replaced with the provided rows, keys
    in `delete_keys` are removed, everything else carries over — ONE
    atomic commit, file-granular like merge_into (only files whose key
    range/contents intersect the change set are rewritten). `app_id`
    rides the manifest for exactly-once replay, same contract as
    merge_into. Raises CommitConflict for the caller to retry."""
    return _apply_keyed(
        spark, path, upserts, delete_keys, key, app_id, "apply_changes"
    )


def _apply_keyed(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None,
    delete_keys: DataFrame | None,
    key: list[str],
    app_id: tuple[str, int] | None,
    op: str,
) -> dict:
    """The keyed rewrite behind merge_into and apply_changes: the files
    holding a key of `upserts` or `delete_keys` are rewritten without
    those keys' rows, plus the upserts, as one commit named `op`."""
    v = latest_version(path)
    manifest = _load_manifest(path, v)
    skipped = {"version": v, "skipped": True, "files_rewritten": 0}
    ledger = manifest.get("app_ids", {})
    if app_id is not None and ledger.get(app_id[0], -1) >= app_id[1]:
        return skipped
    parts = [df.select(*key) for df in (upserts, delete_keys) if df is not None]
    if not parts:
        return skipped
    keys = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    touched = _files_with_keys(spark, path, manifest, keys, key)
    to_write = None
    if touched:
        to_write = _read_files(spark, path, manifest, touched).join(
            keys, key, "left_anti"
        )
    if upserts is not None:
        to_write = (
            upserts if to_write is None else to_write.unionByName(upserts)
        )
    # a batch that changes no row (no upserts, or an empty upsert
    # batch, and no matched key) commits nothing; with an app_id the
    # commit is metadata-only, so the exactly-once ledger advances
    new_v = _commit(path, v, manifest, op, set(touched), to_write, app_id=app_id)
    if new_v == v:
        return skipped
    return {
        "version": new_v,
        "skipped": False,
        "files_rewritten": len(touched),
        "files_untouched": len(manifest["files"]) - len(touched),
    }


def incremental_sync(
    spark: SparkSession, src_path: str, dst_path: str, key: list[str]
) -> dict:
    """Pull-based incremental replication of one snapshot table into
    another: read the source's change feed since the last synced
    version (recorded in the destination's app ledger, so the cursor
    commits atomically WITH the data it covers), reduce it to net
    per-key changes against the current source, and apply them as one
    keyed CDC commit. Re-running after any crash is exactly-once: a
    replayed cursor is skipped by the ledger. At 100 TB each sync
    touches O(changed files) on the source (manifest diff) and
    O(matching files) on the destination (stats-pruned apply) —
    never a full copy."""
    ledger = f"sync:{os.path.abspath(src_path)}"
    src_v = latest_version(src_path)
    dst_m = _load_manifest(dst_path, latest_version(dst_path))
    from_v = dst_m.get("app_ids", {}).get(ledger, -1)
    if from_v >= src_v:
        return {"skipped": True, "synced_to": from_v}
    if from_v < 0:
        # first sync: full copy of the current snapshot
        upserts = read_snapshot(spark, src_path, src_v)
        return apply_changes(
            spark, dst_path, upserts, None, key, app_id=(ledger, src_v)
        )
    feed = table_changes(spark, src_path, from_v, src_v)
    changed_keys = feed.select(*key).distinct()
    src_now = read_snapshot(spark, src_path, src_v)
    upserts = src_now.join(changed_keys, key, "left_semi")
    vanished = changed_keys.join(src_now, key, "left_anti")
    return apply_changes(
        spark, dst_path, upserts, vanished, key, app_id=(ledger, src_v)
    )


def compact_small_files(
    spark: SparkSession, path: str, min_rows: int, target_files: int = 1
) -> dict:
    """Incremental OPTIMIZE: coalesce only the files smaller than
    `min_rows` (found from manifest stats — no data read) into
    `target_files` consolidated files; every adequately-sized file
    carries over untouched. This is the steady-state answer to
    streaming/CDC commit patterns that accrete many small files: each
    run rewrites O(small files), not the table, so at 100 TB the
    maintenance cost tracks the ingest rate instead of the table size.
    No-op (no new version) when fewer than two small files exist."""
    v = latest_version(path)
    manifest = _load_manifest(path, v)
    stats = manifest.get("stats", {})
    small = [
        f for f in manifest["files"]
        if stats.get(f, {}).get("rows", min_rows) < min_rows
    ]
    if len(small) < 2:
        return {"version": v, "skipped": True, "files_compacted": 0}
    df = _read_files(spark, path, manifest, small).coalesce(target_files)
    return {
        "version": _commit(path, v, manifest, "compact_small", set(small), df),
        "skipped": False,
        "files_compacted": len(small),
        "files_kept": len(manifest["files"]) - len(small),
    }
