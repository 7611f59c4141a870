"""The state sinks' per-bucket fold (``compaction.merge_bucket`` with
``UpsertFold`` / ``Scd2Fold``) in pyarrow alone, without a Spark session:
each test commits batches of change rows into one bucket dir and compares
the result with a pure-Python replay of the changes."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from flink_cdc_msk_spark.streaming import compaction
from flink_cdc_msk_spark.streaming.compaction import (
    Scd2Fold,
    UpsertFold,
    merge_bucket,
)

PAYLOAD = pa.map_(pa.string(), pa.string())
PK = ["a", "b"]


def _changes(rows):
    """(key tuple, op, ts_ms, v) → change rows over the composite key
    (a, b), as the sinks parse them."""
    return pa.table(
        {
            "a": pa.array([k[0] for k, *_ in rows], pa.string()),
            "b": pa.array([k[1] for k, *_ in rows], pa.string()),
            "op": pa.array([op for _, op, _, _ in rows], pa.string()),
            "ts_ms": pa.array([ts for _, _, ts, _ in rows], pa.int64()),
            "payload": pa.array([[("v", v)] for *_, v in rows], PAYLOAD),
        }
    )


def _commit(fold, root, rows) -> int:
    """Fold ``rows`` into ``root/live`` through a stage dir and swap it in,
    as the sinks do for one bucket."""
    live, stage = f"{root}/live", f"{root}/stage"
    n = merge_bucket(fold, live, stage, _changes(rows))
    shutil.rmtree(live, ignore_errors=True)
    if os.path.exists(stage):
        os.rename(stage, live)
    return n


def _live(root) -> pa.Table | None:
    live = f"{root}/live"
    files = os.listdir(live) if os.path.isdir(live) else []
    assert len(files) <= 1  # one file per bucket
    return pq.read_table(f"{root}/live/{files[0]}") if files else None


def _state(root) -> list[tuple]:
    t = _live(root)
    if t is None:
        return []
    return sorted(
        (
            ((r["a"], r["b"]), r["op"], r["ts_ms"], dict(r["payload"])["v"])
            for r in t.to_pylist()
        ),
        key=repr,
    )


def _replay(batches, retain_tombstones) -> list[tuple]:
    """Newest change per key, batch by batch; each batch's deletes are
    dropped unless tombstones are retained (so without them a change older
    than a committed delete brings its key back)."""
    latest = {}
    for batch in batches:
        for key, op, ts, v in batch:
            if key not in latest or ts > latest[key][1]:
                latest[key] = (op, ts, v)
        if not retain_tombstones:
            latest = {k: c for k, c in latest.items() if c[0] != "d"}
    return sorted(
        ((k, op, ts, v) for k, (op, ts, v) in latest.items()), key=repr
    )


# ((a, b), op, ts_ms, v) per batch, in arrival order within the batch
BATCHES = [
    [
        (("1", "x"), "c", 10, "a"),
        (("1", None), "c", 11, "b"),  # composite keys with a null part:
        ((None, "1"), "c", 12, "c"),  # (1, null) and (null, 1) are distinct
        (("2", "x"), "c", 13, "d"),
        (("3", "x"), "c", 14, "e"),
    ],
    [
        (("4", "x"), "u", 22, "f1"), (("4", "x"), "c", 21, "f0"),  # out of order
        (("2", "x"), "u", 5, "late"),  # older than the stored row
        (("3", "x"), "d", 30, "e"), (("3", "x"), "c", 31, "e2"),  # d then c
        (("1", None), "d", 40, "b"),  # deleted
        ((None, "1"), "u", 41, "c2"),
    ],
    [
        # older than its delete: comes back unless tombstones are kept
        (("1", None), "c", 35, "b-late"),
        (("5", "x"), "c", 50, "g"), (("5", "x"), "d", 51, "g"),  # c then d
    ],
]


@pytest.mark.parametrize("retain_tombstones", [False, True])
def test_upsert_fold_equals_replay(tmp_path, retain_tombstones):
    fold = UpsertFold(PK, retain_tombstones)
    for i, batch in enumerate(BATCHES):
        n = _commit(fold, tmp_path, batch)
        want = _replay(BATCHES[: i + 1], retain_tombstones)
        assert _state(tmp_path) == want
        assert n == len(want)
    # a re-delivered batch changes nothing
    _commit(fold, tmp_path, BATCHES[-1])
    assert _state(tmp_path) == _replay(BATCHES, retain_tombstones)


def test_upsert_fold_empties_bucket_writes_nothing(tmp_path):
    fold = UpsertFold(PK)
    _commit(fold, tmp_path, [(("1", "x"), "c", 1, "a")])
    assert _commit(fold, tmp_path, [(("1", "x"), "d", 2, "a")]) == 0
    assert not os.path.exists(f"{tmp_path}/live")


def test_upsert_fold_streams_untouched_rows_of_a_multi_row_group_file(
    tmp_path, monkeypatch
):
    """Stored rows of keys the batch does not touch are copied through
    one row group at a time: the fold sees only the touched keys' stored
    rows and the batch, and the new file's row groups stay near
    ``ROW_GROUP_ROWS`` (they do not grow by one per batch)."""
    monkeypatch.setattr(compaction, "ROW_GROUP_ROWS", 16)
    old = [((str(k), "x"), "c", k, f"v{k}") for k in range(100)]
    os.makedirs(f"{tmp_path}/live")
    pq.write_table(
        _changes(old), f"{tmp_path}/live/part-0.parquet", row_group_size=10
    )
    assert pq.ParquetFile(f"{tmp_path}/live/part-0.parquet").num_row_groups == 10

    seen = []

    class Counting(UpsertFold):
        def __call__(self, rows):
            seen.append(rows.num_rows)
            return super().__call__(rows)

    fold = Counting(PK)
    batches = [old]
    for i in range(3):
        batch = [((str(k), "x"), "u", 1000 + i, f"w{i}") for k in (3, 47, 95)]
        batch.append(((str(200 + i), "x"), "c", 1000 + i, "new"))
        _commit(fold, tmp_path, batch)
        batches.append(batch)
        # 3 stored rows of touched keys + 4 changes
        assert seen[-1] == 3 + 4
        assert _state(tmp_path) == _replay(batches, False)
        [name] = os.listdir(f"{tmp_path}/live")
        row_groups = pq.ParquetFile(f"{tmp_path}/live/{name}").num_row_groups
        assert row_groups <= 100 // 16 + 2
    assert len(_state(tmp_path)) == 103


def test_corrupt_state_page_fails_the_fold(tmp_path):
    """State pages carry checksums and the fold verifies them: one
    flipped byte in a data page raises instead of merging garbage."""
    fold = UpsertFold(PK)
    _commit(fold, tmp_path, [((str(k), "x"), "c", k, "v" * 20) for k in range(50)])
    [name] = os.listdir(f"{tmp_path}/live")
    path = f"{tmp_path}/live/{name}"
    col = pq.ParquetFile(path).metadata.row_group(0).column(4)  # payload
    start = min(
        o for o in (col.dictionary_page_offset, col.data_page_offset) if o
    )
    with open(path, "r+b") as f:
        f.seek(start + col.total_compressed_size - 2)
        byte = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(OSError, match="(?i)crc|checksum"):
        _commit(fold, tmp_path, [(("1", "x"), "u", 100, "w")])


def _history(root) -> list[tuple]:
    t = _live(root)
    return sorted(
        (
            (
                (r["a"], r["b"]),
                r["op"],
                r["valid_from"],
                r["valid_to"],
                r["is_current"],
                dict(r["payload"])["v"],
            )
            for r in t.to_pylist()
        ),
        key=repr,
    )


def test_scd2_fold_intervals_across_batches(tmp_path):
    """Each change is valid until its key's next change; a retried batch
    adds nothing; a late earlier change slots into its key's history."""
    fold = Scd2Fold(PK)
    k1, k2 = ("1", None), (None, "1")
    _commit(fold, tmp_path, [(k1, "c", 100, "a"), (k2, "c", 100, "b")])
    retry = [(k1, "u", 200, "a2"), (k2, "d", 150, "b")]
    _commit(fold, tmp_path, retry)
    _commit(fold, tmp_path, retry)
    _commit(fold, tmp_path, [(k1, "u", 150, "a1")])  # late
    assert _history(tmp_path) == sorted(
        [
            (k2, "c", 100, 150, 0, "b"),
            (k2, "d", 150, None, 0, "b"),
            (k1, "c", 100, 150, 0, "a"),
            (k1, "u", 150, 200, 0, "a1"),
            (k1, "u", 200, None, 1, "a2"),
        ],
        key=repr,
    )


def test_scd2_fold_ts_op_tie(tmp_path):
    """Two changes of one key at the same ts_ms order by op name, the
    rule the cdc_scd2 oracles mirror: 'd' sorts before 'u', so the update
    is the current row and the delete's interval is empty."""
    fold = Scd2Fold(PK)
    k = ("7", "x")
    _commit(fold, tmp_path, [(k, "c", 10, "a"), (k, "u", 20, "b")])
    _commit(fold, tmp_path, [(k, "d", 20, "b")])
    assert _history(tmp_path) == [
        (k, "c", 10, 20, 0, "a"),
        (k, "d", 20, 20, 0, "b"),
        (k, "u", 20, None, 1, "b"),
    ]
