"""versioned_txn: small transactions and time travel on a fresh repo.

A pre-ingested array takes a closed loop of cycles.  Each cycle opens
two sessions at one tip: the first writes a small unaligned region
(read-modify-write on its boundary chunks) and commits; the second sets
one whole chunk in the other half of the array through the Zarr store
and commits through a rebase.  Then come ChunkStore point gets at the
tip and time-travel region reads at past snapshots or tags.  After the
window come one rewrite + expire + GC cycle and a full read of the tip.
Regions are tiny, so
manifests, session, storage and the per-op Spark job count dominate,
not the codec; the manifest list grows by one file per commit until
the cycle compacts it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from perfbench.harness import dir_bytes, median, tail

N = 256
CHUNK = 32
POOL = 64  # pre-generated write regions; the loop stops early if it runs out
REGION = 24  # side of a txn write region, in cells
READ = 64  # side of a time-travel read region, in cells
MIN_CYCLES = 3  # timed cycles even when the window ends sooner, so every run has as many samples
GETS_PER_CYCLE = 2
READS_PER_CYCLE = 1


# top-level directories of a repo root, one per object kind; the rest
# (repo.json, ops_log, gc) counts as "other"
_KINDS = ("chunks", "manifests", "snapshots", "refs", "txlogs")


def _region_matches(pdf, model: np.ndarray, r0: int, c0: int, h: int, w: int) -> bool:
    """Whether the (i0, i1, value) rows of a region read equal the model
    cells [r0, r0+h) x [c0, c0+w), every cell exactly once."""
    if len(pdf) != h * w:
        return False
    i0, i1, v = (pdf[c].to_numpy() for c in ("i0", "i1", "value"))
    order = np.lexsort((i1, i0))
    g0, g1 = np.meshgrid(np.arange(r0, r0 + h), np.arange(c0, c0 + w), indexing="ij")
    return (
        np.array_equal(i0[order], g0.ravel())
        and np.array_equal(i1[order], g1.ravel())
        and np.array_equal(v[order], model[r0 : r0 + h, c0 : c0 + w].ravel())
    )


def _manifest_layers(bench, repo, root, read_at: list[str], live_refs: int) -> None:
    """manifests.files_per_read and manifests.read_amp: for the snapshot
    of each timed read, the manifest files listed for it and the
    manifest rows they hold (parquet footers only) per live chunk ref;
    medians over the reads.  Run after the
    window and before maintenance rewrites the manifests, so the probes
    take no time from the timed ops."""
    rows_of: dict[str, int] = {}
    files_per_read, read_amp = [], []
    for sid in read_at:
        files = repo.list_manifest_files(sid)
        for f in files:
            if f not in rows_of:
                rows_of[f] = pads.dataset(root.data_path(f), format="parquet").count_rows()
        files_per_read.append(len(files))
        read_amp.append(sum(rows_of[f] for f in files) / live_refs)
    if read_at:
        bench.extra_layers["manifests.files_per_read"] = median(files_per_read)
        bench.extra_layers["manifests.read_amp"] = median(read_amp)


def _maintain(bench, repo, keep_from: float, verify) -> None:
    """One rewrite_manifests + expire_snapshots + garbage_collect cycle
    (op ``maintenance``), then ``verify(expired snapshot ids)``, the
    post-GC read check.  Snapshots written before ``keep_from`` (epoch
    s) are expired."""
    parts: dict[str, float] = {}
    summary = {}

    def cycle():
        t = time.perf_counter()
        repo.rewrite_manifests()
        parts["rewrite_s"] = time.perf_counter() - t
        t = time.perf_counter()
        expired = repo.expire_snapshots(older_than_seconds=max(0.0, time.time() - keep_from))
        parts["expire_s"] = time.perf_counter() - t
        t = time.perf_counter()
        gc = repo.garbage_collect(older_than_seconds=0)
        parts["gc_s"] = time.perf_counter() - t
        summary.update(vars(gc))
        return expired

    _, expired = bench.op("maintenance", cycle)
    verify(expired or set())
    for k, v in parts.items():
        bench.extra_layers[f"maintenance.{k}"] = v
    bench.extra_layers["maintenance.objects_deleted"] = sum(summary.values())
    bench.detail["gc_summary"] = summary


def _account_space(bench, root, live_bytes: int) -> float:
    """Bytes under the repo root per object kind (space.*); returns
    space.amp, the total per byte of live array data."""
    path = root.root
    by_kind = {k: 0 for k in (*_KINDS, "other")}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        size = dir_bytes(full) if os.path.isdir(full) else os.path.getsize(full)
        by_kind[entry if entry in _KINDS else "other"] += size
    bench.detail["space_bytes"] = by_kind
    bench.extra_layers["space.chunk_bytes"] = by_kind["chunks"]
    bench.extra_layers["space.manifest_bytes"] = by_kind["manifests"]
    bench.extra_layers["space.meta_bytes"] = sum(
        by_kind[k] for k in ("snapshots", "refs", "txlogs", "other")
    )
    amp = sum(by_kind.values()) / live_bytes
    bench.extra_layers["space.amp"] = amp
    return amp


def _region_file(path: str, r0: int, c0: int, values: np.ndarray) -> None:
    h, w = values.shape
    i0, i1 = np.meshgrid(np.arange(r0, r0 + h), np.arange(c0, c0 + w), indexing="ij")
    pq.write_table(pa.table({"i0": i0.ravel(), "i1": i1.ravel(), "value": values.ravel()}), path)


def _inputs(bench, rng):
    """The base array and POOL writes.  Write k is a pair: an unaligned
    region file for the first session and one whole chunk for the
    second, in opposite halves of the rows, so the two never share a
    chunk."""
    base = rng.standard_normal((N, N))
    base_path = os.path.join(bench.work, "base.parquet")
    _region_file(base_path, 0, 0, base)
    writes = []
    chunks = N // CHUNK
    for k in range(POOL):
        half = k % 2
        # a REGION-cell square starting inside a chunk: it always covers
        # parts of exactly 2 x 2 chunks
        r0 = CHUNK * int(rng.integers(half * chunks // 2, (half + 1) * chunks // 2 - 1))
        r0 += int(rng.integers(CHUNK - REGION + 1, CHUNK))
        c0 = CHUNK * int(rng.integers(0, chunks - 1)) + int(rng.integers(CHUNK - REGION + 1, CHUNK))
        values = rng.standard_normal((REGION, REGION))
        path = os.path.join(bench.work, f"region-{k:02d}.parquet")
        _region_file(path, r0, c0, values)
        ci = int(rng.integers(0, chunks // 2)) + (1 - half) * chunks // 2
        cj = int(rng.integers(0, chunks))
        writes.append(((path, r0, c0, values), (ci * CHUNK, cj * CHUNK, rng.standard_normal((CHUNK, CHUNK)))))
    return base, base_path, writes


def run(bench) -> dict:
    from icechunk_spark.repo import ChunkStore, ConflictSolver, Repository

    spark = bench.start_spark()
    rng = np.random.default_rng(bench.seed)
    with bench.phase("inputs"):
        base, base_path, writes = _inputs(bench, rng)
    with bench.phase("warmup"):
        root = bench.storage(os.path.join(bench.work, "repo"))
        repo = Repository.create(spark, root)
        s = repo.writable_session()
        s.create_array("/a", shape=[N, N], chunk_shape=[CHUNK, CHUNK])
        s.write_array_df("/a", spark.read.parquet(base_path))
        base_sid = s.commit("base ingest")

    model: dict[str, np.ndarray] = {base_sid: base}  # snapshot id -> array
    written_at: dict[str, float] = {base_sid: time.time()}
    tags: dict[str, str] = {}
    tip = [base_sid]
    pool = iter(writes)
    read_at = []  # snapshot id of each timed point get and region read

    def apply(prev: str, new: str, r0: int, c0: int, values: np.ndarray) -> None:
        a = model[prev].copy()
        a[r0 : r0 + values.shape[0], c0 : c0 + values.shape[1]] = values
        model[new] = a
        written_at[new] = time.time()
        tip[0] = new

    def txn_pair(region, chunk, tag: bool):
        """Two sessions open at one tip.  The first writes an unaligned
        region (read-modify-write on its boundary chunks) and commits
        (op txn); the second sets one whole chunk through the Zarr store
        and commits through a rebase (op rebase_commit)."""
        s2 = repo.writable_session()
        parts = {}

        def txn():
            s = repo.writable_session()
            t = time.perf_counter()
            s.write_array_df("/a", spark.read.parquet(region[0]))
            parts["write_s"] = time.perf_counter() - t
            t = time.perf_counter()
            new = s.commit("txn")
            parts["commit_s"] = time.perf_counter() - t
            return new

        prev = tip[0]
        rec, new = bench.op("txn", txn)
        rec.parts = parts
        if new is not None:
            apply(prev, new, *region[1:])
            if tag:  # for time travel; untagged warm-up commits stay expirable
                tags[f"t{new[:8]}"] = new
                repo.create_tag(f"t{new[:8]}", new)
        r0, c0, values = chunk
        ChunkStore(s2).set(f"a/c/{r0 // CHUNK}/{c0 // CHUNK}", values.tobytes())
        prev = tip[0]
        rec, new = bench.op("rebase_commit", lambda: s2.commit("rebased", rebase_with=ConflictSolver()))
        rec.parts = {"commit_s": rec.seconds}
        if new is not None:
            apply(prev, new, r0, c0, values)

    def point_get():
        ci, cj = (int(x) for x in rng.integers(0, N // CHUNK, 2))
        sid = tip[0]
        rec, raw = bench.op("point_get", lambda: ChunkStore(repo.readonly_session()).get(f"a/c/{ci}/{cj}"))
        want = model[sid][ci * CHUNK : (ci + 1) * CHUNK, cj * CHUNK : (cj + 1) * CHUNK]
        bench.check(rec, raw == np.ascontiguousarray(want).tobytes(), "chunk bytes")
        read_at.append(sid)

    def read_region():
        choices = [("snapshot_id", s) for s in model] + [("tag", t) for t in sorted(tags)]
        kind, ref = choices[int(rng.integers(0, len(choices)))]
        sid = tags[ref] if kind == "tag" else ref
        # a READ-cell square starting inside a chunk: 3 x 3 chunks
        h = w = READ
        r0, c0 = (CHUNK * int(rng.integers(0, N // CHUNK - 2)) + int(rng.integers(1, CHUNK)) for _ in range(2))

        def body():
            s = repo.readonly_session(**{kind: ref})
            return s.read_array_df("/a", slices=[(r0, r0 + h), (c0, c0 + w)]).toPandas()

        rec, pdf = bench.op("read_region", body)
        if pdf is not None:
            bench.check(rec, _region_matches(pdf, model[sid], r0, c0, h, w), "region")
        read_at.append(sid)

    def cycle(gets: int = GETS_PER_CYCLE, reads: int = READS_PER_CYCLE, tag: bool = True) -> bool:
        try:
            txn_pair(*next(pool), tag)
        except StopIteration:
            return False
        for _ in range(gets):
            point_get()
        for _ in range(reads):
            read_region()
        return True

    with bench.phase("warmup"):
        # one untimed cycle: the first read-modify-write, rebase and
        # region read of the run are cold and cost twice a warm one; the
        # first timed point get is cold too, and the median of the gets
        # absorbs it
        cycle(gets=0, reads=1, tag=False)
        bench.end_warmup()
        read_at.clear()

    bench.run_cycles(MIN_CYCLES, cycle)
    if bench.trace:
        _manifest_layers(bench, repo, root, read_at, (N // CHUNK) ** 2)

    # expire the older half of the history: expiry removes the oldest
    # snapshots up to the first one a tag pins or the cutoff keeps
    history = sorted(written_at, key=written_at.get)
    keep_from = written_at[history[len(history) // 2]]

    def verify(expired):
        for sid in expired:
            model.pop(sid, None)
        rec, pdf = bench.op("verify", lambda: repo.readonly_session().read_array_df("/a").toPandas())
        if pdf is not None:
            bench.check(rec, _region_matches(pdf, model[tip[0]], 0, 0, N, N), "tip after GC")

    _maintain(bench, repo, keep_from, verify)
    space_amp = _account_space(bench, root, N * N * 8)

    txns = bench.seconds_of("txn")
    gets = bench.seconds_of("point_get")
    txn_tail, txn_pct = tail(txns)
    get_tail, get_pct = tail(gets)
    bench.detail["tail_percentile"] = {"txn": txn_pct, "point_get": get_pct}
    return {
        "txn_p50_s": median(txns),
        "txn_tail_s": txn_tail,
        "read_region_p50_s": median(bench.seconds_of("read_region")),
        "point_get_p50_s": median(gets),
        "point_get_tail_s": get_tail,
        "rebase_commit_p50_s": median(bench.seconds_of("rebase_commit")),
        "maintenance_s": median(bench.seconds_of("maintenance")),
        "space_amp": space_amp,
    }
