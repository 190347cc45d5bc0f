"""Property-based change-set tests, mirroring the reference's
proptest strategies (icechunk/src/strategies.rs and the change-set
roundtrip properties): arbitrary sequences of chunk set/delete
operations grouped into commits must behave exactly like a dict
overlay — at EVERY historical snapshot, not just the tip.

Kept to few, small examples: each example spins real Spark jobs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings

from tests.conftest import scaled_examples
from hypothesis import strategies as st

from icechunk_spark.repo import Repository

KEYS = ["0.0", "0.1", "1.0", "1.1", "2.0"]

# one op: (key, payload-or-None); None = delete
op_st = st.tuples(
    st.sampled_from(KEYS),
    st.one_of(st.none(), st.binary(min_size=1, max_size=8)),
)
# a history: 1-3 commits of 1-4 ops each
history_st = st.lists(st.lists(op_st, min_size=1, max_size=4), min_size=1, max_size=3)


@pytest.fixture(scope="module")
def prop_root(spark, tmp_path_factory):
    return tmp_path_factory.mktemp("prop")


def _assert_point_lookup_matches_spark(sess) -> None:
    """The Spark-free point lookup returns, for every key, exactly the
    row the Spark resolve of the whole manifest holds for it."""
    node_id = sess.array_meta("/a").node_id

    def norm(row: dict) -> dict:
        return {k: bytes(v) if isinstance(v, bytearray) else v for k, v in row.items()}

    by_key = {r["chunk_key"]: norm(r.asDict()) for r in sess.chunk_manifest_df("/a").collect()}
    for key in KEYS:
        got = [norm(r) for r in sess._point_manifest_rows(node_id, key)]
        assert got == ([by_key[key]] if key in by_key else []), (sess.snapshot_id, key)


@settings(
    max_examples=scaled_examples(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(history=history_st, split=st.booleans())
# always run once on split manifests (2 refs per file), whatever is drawn
@example(
    history=[[("0.0", b"a"), ("1.1", b"b"), ("2.0", b"c")], [("1.1", None), ("0.1", b"d")]],
    split=True,
)
def test_commit_history_matches_dict_model(spark, tmp_path_factory, history, split):
    from icechunk_spark.repo import ManifestConfig, RepositoryConfig

    root = str(tmp_path_factory.mktemp("r"))
    splitting = {"max_refs_per_manifest": 2} if split else None
    repo = Repository.create(
        spark, root, config=RepositoryConfig(manifest=ManifestConfig(splitting=splitting))
    )
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[24], chunk_shape=[8])

    model: dict[str, bytes] = {}
    snapshots: list[tuple[str, dict[str, bytes]]] = []
    for i, commit_ops in enumerate(history):
        s = repo.writable_session()
        for key, payload in commit_ops:
            if payload is None:
                s.delete_chunk("/a", key)
                model.pop(key, None)
            else:
                s.set_chunk_bytes("/a", key, payload)
                model[key] = payload
        snap = s.commit(f"c{i}")
        snapshots.append((snap, dict(model)))

    # every snapshot must read back exactly its model state
    for snap_id, expected in snapshots:
        sess = repo.readonly_session(snapshot_id=snap_id)
        for key in KEYS:
            assert sess.get_chunk_bytes("/a", key) == expected.get(key), (
                snap_id,
                key,
            )
        _assert_point_lookup_matches_spark(sess)

    # compaction rewrites the manifest list into sorted file(s)
    repo.rewrite_manifests()
    sess = repo.readonly_session()
    for key in KEYS:
        assert sess.get_chunk_bytes("/a", key) == model.get(key), key
    _assert_point_lookup_matches_spark(sess)


@settings(
    max_examples=scaled_examples(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(ops=st.lists(op_st, min_size=1, max_size=6))
def test_discard_changes_restores_base(spark, tmp_path_factory, ops):
    root = str(tmp_path_factory.mktemp("r"))
    repo = Repository.create(spark, root)
    with repo.transaction(message="init") as s:
        s.create_array("/a", shape=[24], chunk_shape=[8])
        s.set_chunk_bytes("/a", "0.0", b"base")

    s = repo.writable_session()
    for key, payload in ops:
        if payload is None:
            s.delete_chunk("/a", key)
        else:
            s.set_chunk_bytes("/a", key, payload)
    s.discard_changes()
    assert not s.has_uncommitted_changes()
    assert s.get_chunk_bytes("/a", "0.0") == b"base"
    for key in KEYS[1:]:
        assert s.get_chunk_bytes("/a", key) is None


# --- array codec properties ----------------------------------------------

shape_st = st.one_of(
    st.tuples(st.integers(5, 40)),
    st.tuples(st.integers(3, 12), st.integers(3, 12)),
)


@settings(
    max_examples=scaled_examples(6),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(shape=shape_st, data=st.data())
def test_array_codec_roundtrip_matches_numpy(spark, tmp_path_factory, shape, data):
    """Sparse writes + slice reads through the chunk codec must equal
    a plain numpy dense-array model, for arbitrary shapes, chunk
    shapes, written cells, and slice bounds."""
    import numpy as np

    from pyspark.sql import functions as F  # noqa: F401

    from icechunk_spark.engine import local_df

    ndim = len(shape)
    chunk_shape = tuple(
        data.draw(st.integers(2, max(2, s)), label=f"chunk{d}") for d, s in enumerate(shape)
    )
    n_cells = int(np.prod(shape))
    n_writes = data.draw(st.integers(1, min(12, n_cells)), label="n_writes")
    cells = data.draw(
        st.lists(
            st.tuples(*[st.integers(0, s - 1) for s in shape]),
            min_size=n_writes,
            max_size=n_writes,
            unique=True,
        ),
        label="cells",
    )
    values = [float(i + 1) for i in range(len(cells))]
    slices = [
        (lo := data.draw(st.integers(0, s - 1), label=f"lo{d}"),
         data.draw(st.integers(lo + 1, s), label=f"hi{d}"))
        for d, s in enumerate(shape)
    ]

    model = np.zeros(shape)
    for c, v in zip(cells, values):
        model[tuple(c)] = v

    root = tmp_path_factory.mktemp("codec")
    repo = Repository.create(spark, str(root / "r"))
    cols = ", ".join([f"i{d} long" for d in range(ndim)]) + ", value double"
    rows = [tuple(list(c) + [v]) for c, v in zip(cells, values)]
    with repo.transaction(message="w") as s:
        s.create_array("/a", shape=list(shape), chunk_shape=list(chunk_shape))
        s.write_array_df("/a", local_df(spark, rows, cols))

    got = repo.readonly_session().read_array_df("/a", slices=slices).collect()
    got_map = {tuple(int(r[f"i{d}"]) for d in range(ndim)): r["value"] for r in got}
    # every returned coordinate is in-slice and matches the model
    for coord, v in got_map.items():
        for d in range(ndim):
            assert slices[d][0] <= coord[d] < slices[d][1]
        assert v == model[coord]
    # every nonzero model cell inside the slice is present
    it = np.ndindex(*shape)
    for coord in it:
        if all(slices[d][0] <= coord[d] < slices[d][1] for d in range(ndim)):
            if model[coord] != 0.0:
                assert got_map.get(tuple(coord)) == model[coord]


# --- set_partial_values model property --------------------------------------

# ranges: (start, payload) with start 0..40, payloads 1..8 bytes
range_st = st.tuples(st.integers(min_value=0, max_value=40), st.binary(min_size=1, max_size=8))


@settings(
    max_examples=scaled_examples(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(initial=st.binary(max_size=32), ranges=st.lists(range_st, min_size=1, max_size=5))
def test_set_partial_values_matches_bytearray_model(spark, tmp_path_factory, initial, ranges):
    """set_partial_values over a buffered chunk behaves exactly like
    splicing a zero-extended bytearray (reference store.py:587-602) —
    overlapping inputs must be rejected, non-overlapping ones spliced."""
    from icechunk_spark.repo.format import RefError
    from icechunk_spark.repo.store import ChunkStore

    # model: detect overlap and compute expected result
    srt = sorted(ranges, key=lambda sv: sv[0])
    overlap = any(
        srt[i][0] < srt[i - 1][0] + len(srt[i - 1][1]) for i in range(1, len(srt))
    )
    root = str(tmp_path_factory.mktemp("spv") / "repo")
    repo = Repository.create(spark, root)
    with repo.transaction(message="spv") as s:
        s.create_array("/a", shape=[64], chunk_shape=[64])
        if initial:
            s.set_chunk_bytes("/a", "0", initial)
        store = ChunkStore(s)
        triples = [("a/c/0", start, val) for start, val in ranges]
        if overlap:
            with pytest.raises(RefError, match="overlap"):
                store.set_partial_values(triples)
            return
        end = max(
            [len(initial)] + [start + len(val) for start, val in ranges]
        )
        model = bytearray(end)
        model[: len(initial)] = initial
        for start, val in ranges:
            model[start : start + len(val)] = val
        store.set_partial_values(triples)
        assert store.get("a/c/0") == bytes(model)
