"""Manifest resolution: snapshots carry an ordered list of manifest
parquet files; later rows shadow earlier ones per (node_id, chunk_key)
and ``op='del'`` rows are tombstones (LSM semantics — the Spark
re-expression of icechunk's manifest-split design, design-docs/005).

``rewrite_manifests`` (repository.py) compacts the list back to one
sorted file.  Resolution is a window-dedup — a single shuffle on
(node_id, chunk_key) — and chunk-grid pruning happens BEFORE the
shuffle via plain int columns c0..c3 that push down to parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from icechunk_spark.repo.format import MANIFEST_SCHEMA, SnapshotInfo, data_path, new_id


def manifest_dir(root: str) -> str:
    return data_path(root, "manifests")


def _manifest_out_columns(df: DataFrame) -> list[str]:
    """Write column set: the known MANIFEST_SCHEMA columns plus any
    ADDITIVE columns present on the frame (design-docs/015: additive
    nullable columns are the extensibility mechanism for this parquet
    layout — the virtual-ref checksum column set the precedent).
    "__"-prefixed columns are internal helpers (never persisted
    data), so they are excluded."""
    known = [c.strip().split(" ")[0] for c in MANIFEST_SCHEMA.split(",")]
    extras = [c for c in df.columns if c not in known and not c.startswith("__")]
    return known + extras


def read_manifest_files(
    spark: SparkSession,
    root: str,
    relpaths: list[str],
    with_extra_columns: bool = False,
) -> DataFrame:
    """Fixed-schema read by default (column pruning; a future writer's
    additive columns are simply not scanned).  ``with_extra_columns``
    reads the UNION schema instead (design-docs/015: additive nullable
    columns are the manifest extensibility mechanism here) so a
    rewrite can carry columns this version doesn't interpret.  The
    union read costs one distributed footer-merge pass over the
    manifest files — acceptable for the maintenance ops that use it
    (compaction); the hot read path keeps the fixed schema and pays
    nothing (plan-pinned in test_extensibility_015)."""
    if not relpaths:
        from icechunk_spark.engine import local_df

        # empty LocalRelation, not the RDD path: a fresh repo resolves
        # manifests often and the RDD-path empty frame schedules
        # defaultParallelism python tasks in every consumer (r15)
        return local_df(spark, [], MANIFEST_SCHEMA)
    paths = [data_path(root, p) for p in relpaths]
    if with_extra_columns:
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        # "__"-prefixed names are this engine's own helper columns
        # (split partition dirs), never future-format data
        df = df.select(*[c for c in df.columns if not c.startswith("__")])
        # a fixed-schema read fills ABSENT known columns (e.g. a
        # pre-vchecksum manifest) with NULLs; the union read must do
        # the same or compaction of old repos would fail to select
        for spec in MANIFEST_SCHEMA.split(","):
            name, typ = spec.strip().split(" ", 1)
            if name not in df.columns:
                df = df.withColumn(name, F.lit(None).cast(typ))
        return df
    return spark.read.schema(MANIFEST_SCHEMA).parquet(*paths)


def resolve_manifests(
    spark: SparkSession,
    root: str,
    snap: SnapshotInfo,
    node_id: str | None = None,
    chunk_filter: Column | None = None,
    with_extra_columns: bool = False,
) -> DataFrame:
    """Live chunk refs at a snapshot: latest row per (node_id,
    chunk_key), tombstones dropped.  ``chunk_filter`` (over c0..c3)
    prunes before the dedup shuffle and pushes down to the scan."""
    df = read_manifest_files(
        spark,
        root,
        prune_manifest_paths(snap.manifests, node_id),
        with_extra_columns=with_extra_columns,
    )
    if node_id is not None:
        df = df.filter(F.col("node_id") == node_id)
    if chunk_filter is not None:
        df = df.filter(chunk_filter)
    w = Window.partitionBy("node_id", "chunk_key").orderBy(F.desc("seq"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") == "set"))
        .drop("__rn")
    )


def write_manifest(df: DataFrame, root: str, n_files: int = 1) -> str:
    """Write manifest rows as a new immutable manifest file (dir of
    parquet parts); returns the snapshot-relative path."""
    rel = os.path.join("manifests", f"{new_id()}.parquet")
    out = df.select(*_manifest_out_columns(df))
    writer = out.repartition(n_files) if n_files else out
    writer.write.parquet(data_path(root, rel))
    return rel


def write_manifests(
    df: DataFrame,
    root: str,
    splitting: dict | None = None,
    n_files: int = 1,
    node_paths: dict[str, str] | None = None,
) -> list[str]:
    """Write manifest rows as one or more immutable manifest files.

    With ``splitting`` (the persisted form of the reference's
    ManifestSplittingConfig / ManifestSplitCondition —
    icechunk-python/python/icechunk/config.py:59-64, design-docs/005),
    one snapshot's refs are split into per-array files, optionally
    capped at ``max_refs_per_manifest`` rows each, so a snapshot of a
    huge repo never produces one monolithic manifest and readers of a
    single array fetch only that array's files.

    Spark-first: the split is ONE partitioned parquet write
    (``partitionBy`` on a copied node column + a range-ordered bucket),
    not N driver-side writes.  Buckets are ordered by chunk grid
    coordinates so parquet min/max stats on c0..c3 still prune inside
    each split file.  Returns the list of snapshot-relative paths
    (leaf partition dirs), which ``SnapshotInfo.manifests`` stores and
    ``resolve_manifests`` prunes by node before reading.
    """
    from icechunk_spark.repo import fsio

    splitting = splitting or {}
    # ``is None`` (not falsy) checks: max_refs_per_manifest=0 is a
    # configured value (clamped to the smallest real cap, 1 ref/file),
    # not "unset" — the persisted ManifestSplittingConfig must
    # round-trip with predictable behavior.  A size cap IMPLIES
    # per-array splitting (the partition layout always includes the
    # node dir — documented reference semantics here).
    max_refs = splitting.get("max_refs_per_manifest")
    rules = splitting.get("rules")
    if not splitting.get("split_by_array") and max_refs is None and not rules:
        return [write_manifest(df, root, n_files)]
    base = os.path.join("manifests", f"{new_id()}.parquet")
    out = df.select(*_manifest_out_columns(df)).withColumn("__node", F.col("node_id"))
    if rules and node_paths:
        # Per-rule caps (the reference's ManifestSplittingConfig,
        # _icechunk_python.pyi:921+): the FIRST condition matching an
        # array's path decides its ref cap.  Rule evaluation happens
        # driver-side over node METADATA (#arrays entries, not #refs)
        # and ships as a broadcast (node_id, cap) join — the refs
        # DataFrame itself never leaves executors.
        from icechunk_spark.types import _Cond

        conds = [(_Cond.from_dict(r["cond"]), int(r["max_refs"])) for r in rules]
        caps: list[tuple[str, int]] = []
        for node_id_, path in node_paths.items():
            for cond, cap in conds:
                if cond.matches(path):
                    caps.append((node_id_, max(1, cap)))
                    break
        if caps:
            cap_df = F.broadcast(
                df.sparkSession.createDataFrame(caps, "node_id string, __cap int")
            )
            w = Window.partitionBy("node_id").orderBy("c0", "c1", "c2", "c3", "chunk_key")
            out = (
                out.join(cap_df, "node_id", "left")
                .withColumn(
                    "__split",
                    F.when(
                        F.col("__cap").isNotNull(),
                        ((F.row_number().over(w) - 1) / F.col("__cap")).cast("int"),
                    ).otherwise(F.lit(0)),
                )
                .drop("__cap")
            )
        else:
            out = out.withColumn("__split", F.lit(0))
    elif max_refs is not None:
        w = Window.partitionBy("node_id").orderBy("c0", "c1", "c2", "c3", "chunk_key")
        out = out.withColumn(
            "__split",
            ((F.row_number().over(w) - 1) / F.lit(max(1, int(max_refs)))).cast("int"),
        )
    else:
        out = out.withColumn("__split", F.lit(0))
    full = data_path(root, base)
    out.write.partitionBy("__node", "__split").parquet(full)
    # partition-dir discovery via the URI-aware bulk plane (fsio), not
    # os.listdir — data_root may be an object-store URI
    rels: list[str] = []
    for nd in fsio.list_child_names(full):
        if not nd.startswith("__node="):
            continue
        for sd in fsio.list_child_names(f"{full}/{nd}"):
            if sd.startswith("__split="):
                rels.append(f"{base}/{nd}/{sd}")
    if not rels:  # empty change set still needs a (single) manifest file
        return [base] if fsio.exists(full) else []
    return rels


def manifest_arrow_schema():
    """MANIFEST_SCHEMA as a pyarrow schema, for the Spark-free readers
    and writers; derived from the DDL so the row format is declared in
    one place (pyarrow import deferred: executors pay it only when
    they take these paths)."""
    import pyarrow as pa

    types = {
        "string": pa.string(),
        "int": pa.int32(),
        "bigint": pa.int64(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
    }
    fields = (f.split() for f in MANIFEST_SCHEMA.split(","))
    return pa.schema([(name, types[ddl_type]) for name, ddl_type in fields])


def _point_filter(node_id: str | None, chunk_key: str | None):
    """pyarrow predicate for a node and/or one chunk key."""
    import pyarrow.compute as pc

    flt = None
    if node_id is not None:
        flt = pc.field("node_id") == node_id
    if chunk_key is not None:
        k = pc.field("chunk_key") == chunk_key
        flt = k if flt is None else (flt & k)
    return flt


def _read_manifest_rows_local(
    root, rel: str, node_id: str | None = None, chunk_key: str | None = None
) -> list[dict]:
    """Pre-dedup rows of one manifest (or staged) parquet dir, read
    with pyarrow through the URI-aware bulk plane (``fsio``), with the
    node/key predicate pushed down."""
    import pyarrow.dataset as ds

    from icechunk_spark.repo import fsio

    fs, path = fsio._fs_path(data_path(root, rel))
    dataset = ds.dataset(
        path, filesystem=fs, format="parquet", schema=manifest_arrow_schema()
    )
    return dataset.to_table(filter=_point_filter(node_id, chunk_key)).to_pylist()


def resolve_manifest_rows_local(
    root,
    manifests: list[str],
    node_id: str | None = None,
    chunk_key: str | None = None,
    staged: "list[str] | tuple[str, ...]" = (),
) -> list[dict]:
    """Spark-free manifest resolution (pyarrow): the point-read path on
    the driver and in executors, where an unpickled session has no JVM
    gateway.  Same LSM semantics as ``resolve_manifests``: latest seq
    per (node_id, chunk_key) wins, tombstones dropped.  ``staged``
    relpaths (a session's file-staged changes) overlay the base in
    staging order, later files shadowing earlier ones — the rule
    ``Session._resolved_manifest`` applies in Spark.  Split manifests
    prune at file level first (``prune_manifest_paths``); the node/key
    predicate is pushed down into each file scan."""
    best: dict[tuple[str, str], dict] = {}
    for rel in prune_manifest_paths(manifests, node_id):
        for r in _read_manifest_rows_local(root, rel, node_id, chunk_key):
            key = (r["node_id"], r["chunk_key"])
            if key not in best or r["seq"] > best[key]["seq"]:
                best[key] = r
    for rel in staged:
        for r in _read_manifest_rows_local(root, rel, node_id, chunk_key):
            best[(r["node_id"], r["chunk_key"])] = r
    return [r for r in best.values() if r["op"] == "set"]


_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _escape_partition_value(value: str) -> str:
    """Escape a partition value the way Spark's partitioned writer does
    (Hive ``escapePathName``): node ids are uuid hex today, but if they
    ever carry escapable characters the on-disk dir name would differ
    from the raw id and a raw-substring match would silently prune ALL
    of that node's split files (empty reads instead of errors)."""
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in value)


def prune_manifest_paths(relpaths: list[str], node_id: str | None) -> list[str]:
    """File-level pruning for split manifests: when resolving a single
    node, skip split files belonging to other nodes entirely (unsplit
    manifests are always kept — they may contain any node)."""
    if node_id is None:
        return list(relpaths)
    marker = f"/__node={_escape_partition_value(node_id)}/"
    return [p for p in relpaths if "/__node=" not in p or marker in p]
