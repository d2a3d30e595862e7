"""Golden test for every copy-on-write DML entry point of the txlog:
``merge`` (plain, ``prune_on_key``, ``prune_on_partitions``,
``schema_evolution``), ``merge_into`` (each clause kind, and
``scope_partitions``), ``update`` and ``delete`` (with and without
pruning), each on a table with the change data feed off and on.

Every case pins what a caller can observe: the call's return value,
the rows after it, each new log entry's op, action kinds and ``info``,
``history()``'s ``files_removed``, ``rows_added`` and ``metrics``, and
the ``read_changes`` rows across the commit (or the error it raises).
Added-file counts are left out: they follow Spark's output
partitioning, not the DML's meaning.

Two base tables (a three-file key-clustered one and a two-partition
one) are built once per change-feed setting and copied per case, so
the module costs one DML call per case."""

from __future__ import annotations

import shutil

import pytest

from hephaestus_spark.sources.txlog import TxTable

_KINDS = ("add", "remove", "meta", "dv", "cdc")
_FLAT = "id long, name string, val double"
_PART = "id long, name string, val double, day string"


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """{(shape, cdf): table dir}. ``flat``: ids 2..8, 12..18 and
    22..28 (even) in one file each. ``part``: ids 1..4 in day d1 and
    5..8 in day d2, partitioned by day."""
    root = tmp_path_factory.mktemp("dml_golden")
    out = {}
    for cdf in (False, True):
        flat = TxTable(str(root / f"flat_{cdf}"))
        for lo in (0, 10, 20):
            rows = [(lo + i, f"r{lo + i}", float(lo + i)) for i in (2, 4, 6, 8)]
            flat.append(spark.createDataFrame(rows, _FLAT).coalesce(1))
        part = TxTable(str(root / f"part_{cdf}"))
        rows = [(i, f"r{i}", float(i), "d1" if i <= 4 else "d2") for i in range(1, 9)]
        part.append(
            spark.createDataFrame(rows, _PART).coalesce(1), partition_by=["day"]
        )
        for t in (flat, part):
            if cdf:
                t.set_change_data_feed(True)
        out[("flat", cdf)] = flat.path
        out[("part", cdf)] = part.path
    return out


def _src(spark, rows, schema=_PART.replace("day", "op")):
    return spark.createDataFrame(rows, schema)


def _merge_plain(spark, t):
    staged = [
        (4, "u4", 40.0),  # update
        (6, "r6", 6.0),  # identical: no change
        (14, "u14", 140.0),  # update
        (24, "r24", 24.0),  # identical
        (30, "n30", 30.0),  # insert
    ]
    return t.merge(spark, spark.createDataFrame(staged, _FLAT), "id", ["name", "val"])


def _merge_prune_key(spark, t):
    staged = spark.createDataFrame([(14, "u14", 1.0), (15, "n15", 15.0)], _FLAT)
    return t.merge(spark, staged, "id", ["name", "val"], prune_on_key=True)


def _merge_prune_partitions(spark, t):
    staged = spark.createDataFrame(
        [
            (2, "u2", 20.0, "d1"),  # update inside the staged partition
            (6, "m6", 6.0, "d1"),  # key lives in d2: absent, inserts
            (9, "n9", 9.0, "d1"),  # insert
        ],
        _PART,
    )
    return t.merge(
        spark, staged, "id", ["name", "val", "day"], prune_on_partitions=True
    )


def _merge_evolve(spark, t):
    staged = spark.createDataFrame(
        [
            (4, "r4", 4.0, "gold"),  # only the new column differs
            (14, "r14", 14.0, None),  # identical, new column NULL
            (24, "u24", 24.0, "t"),
            (30, "n30", 30.0, "x"),
        ],
        _FLAT + ", tier string",
    )
    return t.merge(
        spark, staged, "id", ["name", "val", "tier"], schema_evolution=True
    )


def _merge_into_clauses(spark, t):
    src = _src(
        spark,
        [
            (4, "u4", 1.0, "u"),  # matched, update
            (6, "d6", 0.0, "d"),  # matched, delete
            (16, "k16", 0.0, "k"),  # matched, neither clause applies
            (30, "n30", 3.0, "u"),  # not matched, insert
            (31, "s31", 0.0, "x"),  # not matched, insert condition fails
        ],
    )
    return t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"name": "s.name", "val": "s.val + t.val"},
        matched_update_condition="s.op = 'u'",
        matched_delete=True,
        matched_delete_condition="s.op = 'd'",
        not_matched_insert={"id": "s.id", "name": "s.name", "val": "s.val"},
        not_matched_insert_condition="s.op = 'u'",
    )


def _merge_into_by_source(spark, t):
    src = _src(spark, [(4, "u4", 1.0, "u")])
    return t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"val": "s.val"},
        not_matched_by_source_update={"val": "t.val * -1"},
        not_matched_by_source_update_condition="t.id > 20",
        not_matched_by_source_delete=True,
        not_matched_by_source_delete_condition="t.id < 5 OR t.id = 22",
    )


def _merge_into_scope(spark, t):
    src = spark.createDataFrame(
        [(2, "a2", 20.0, "d1"), (6, "x6", 60.0, "d2")], _PART
    )
    return t.merge_into(
        spark,
        src,
        "t.id = s.id",
        matched_update={"val": "s.val"},
        not_matched_insert={
            "id": "s.id",
            "name": "s.name",
            "val": "s.val",
            "day": "s.day",
        },
        scope_partitions={"day": ["d1"]},
    )


def _update_plain(spark, t):
    return t.update(
        spark, "val > 13 AND val < 25", {"name": "upper(name)", "val": "val + 100"}
    )


def _update_pruned(spark, t):
    return t.update(
        spark, "id >= 14", {"val": "-val"}, prune_column="id", lo=10, hi=19
    )


def _update_partitions(spark, t):
    return t.update(
        spark, "val > 1", {"val": "val * 10"}, partitions={"day": ["d2"]}
    )


def _delete_plain(spark, t):
    return t.delete(spark, "id IN (4, 24)")


def _delete_pruned(spark, t):
    return t.delete(spark, "id > 25", prune_column="id", lo=20, hi=29)


def _delete_partitions(spark, t):
    return t.delete(spark, "id % 2 = 0", partitions={"day": ["d1"]})


CASES = {
    "merge_plain": ("flat", _merge_plain),
    "merge_prune_key": ("flat", _merge_prune_key),
    "merge_prune_partitions": ("part", _merge_prune_partitions),
    "merge_evolve": ("flat", _merge_evolve),
    "merge_into_clauses": ("flat", _merge_into_clauses),
    "merge_into_by_source": ("flat", _merge_into_by_source),
    "merge_into_scope": ("part", _merge_into_scope),
    "update_plain": ("flat", _update_plain),
    "update_pruned": ("flat", _update_pruned),
    "update_partitions": ("part", _update_partitions),
    "delete_plain": ("flat", _delete_plain),
    "delete_pruned": ("flat", _delete_pruned),
    "delete_partitions": ("part", _delete_partitions),
}


def _sorted(rows) -> list[tuple]:
    """Rows as tuples in a total order (NULLs sort last per column)."""
    return sorted(
        (tuple(r) for r in rows),
        key=lambda r: tuple((x is None, "" if x is None else x) for x in r),
    )


def outcome(spark, bases, tmp_path, name: str, cdf: bool) -> dict:
    """Run case ``name`` on a fresh copy of its base table and reduce
    everything observable to plain values."""
    shape, call = CASES[name]
    path = str(tmp_path / "t")
    shutil.copytree(bases[(shape, cdf)], path)
    t = TxTable(path)
    base = t.latest_version()
    ret = call(spark, t)
    v = t.latest_version()
    entries = []
    for e in t._read_log()[base + 1 :]:
        kinds = [next(k for k in _KINDS if k in a) for a in e["actions"]]
        entries.append((e["op"], sorted(set(kinds)), e.get("info")))
    hist = [
        (h["files_removed"], h["rows_added"], h.get("metrics"))
        for h in t.history()[base + 1 :]
    ]
    try:
        changes = _sorted(t.read_changes(spark, base, v).collect())
    except ValueError as exc:
        changes = ("ValueError", " ".join(str(exc).split()[:5]))
    return {
        "ret": ret,
        "rows": _sorted(t.read(spark).collect()),
        "entries": entries,
        "history": hist,
        "changes": changes,
    }


# Recorded from the DML paths as they stood before the shared core;
# a change here is a change of DML behaviour.
EXPECTED = {('merge_plain', False): {'ret': 3,
                          'rows': [(2, 'r2', 2.0),
                                   (4, 'u4', 40.0),
                                   (6, 'r6', 6.0),
                                   (8, 'r8', 8.0),
                                   (12, 'r12', 12.0),
                                   (14, 'u14', 140.0),
                                   (16, 'r16', 16.0),
                                   (18, 'r18', 18.0),
                                   (22, 'r22', 22.0),
                                   (24, 'r24', 24.0),
                                   (26, 'r26', 26.0),
                                   (28, 'r28', 28.0),
                                   (30, 'n30', 30.0)],
                          'entries': [('merge',
                                       ['add', 'remove'],
                                       {'key': 'id', 'compare_cols': ['name', 'val']})],
                          'history': [(3, 13, None)],
                          'changes': [(4, 'r4', 4.0, 'update_preimage', 3),
                                      (4, 'u4', 40.0, 'update_postimage', 3),
                                      (14, 'r14', 14.0, 'update_preimage', 3),
                                      (14, 'u14', 140.0, 'update_postimage', 3),
                                      (30, 'n30', 30.0, 'insert', 3)]},
 ('merge_plain', True): {'ret': 4,
                         'rows': [(2, 'r2', 2.0),
                                  (4, 'u4', 40.0),
                                  (6, 'r6', 6.0),
                                  (8, 'r8', 8.0),
                                  (12, 'r12', 12.0),
                                  (14, 'u14', 140.0),
                                  (16, 'r16', 16.0),
                                  (18, 'r18', 18.0),
                                  (22, 'r22', 22.0),
                                  (24, 'r24', 24.0),
                                  (26, 'r26', 26.0),
                                  (28, 'r28', 28.0),
                                  (30, 'n30', 30.0)],
                         'entries': [('merge',
                                      ['add', 'cdc', 'remove'],
                                      {'key': 'id', 'compare_cols': ['name', 'val']})],
                         'history': [(3, 13, None)],
                         'changes': [(4, 'r4', 4.0, 'update_preimage', 4),
                                     (4, 'u4', 40.0, 'update_postimage', 4),
                                     (14, 'r14', 14.0, 'update_preimage', 4),
                                     (14, 'u14', 140.0, 'update_postimage', 4),
                                     (30, 'n30', 30.0, 'insert', 4)]},
 ('merge_prune_key', False): {'ret': 3,
                              'rows': [(2, 'r2', 2.0),
                                       (4, 'r4', 4.0),
                                       (6, 'r6', 6.0),
                                       (8, 'r8', 8.0),
                                       (12, 'r12', 12.0),
                                       (14, 'u14', 1.0),
                                       (15, 'n15', 15.0),
                                       (16, 'r16', 16.0),
                                       (18, 'r18', 18.0),
                                       (22, 'r22', 22.0),
                                       (24, 'r24', 24.0),
                                       (26, 'r26', 26.0),
                                       (28, 'r28', 28.0)],
                              'entries': [('merge',
                                           ['add', 'remove'],
                                           {'key': 'id', 'compare_cols': ['name', 'val']})],
                              'history': [(1, 5, None)],
                              'changes': [(14, 'r14', 14.0, 'update_preimage', 3),
                                          (14, 'u14', 1.0, 'update_postimage', 3),
                                          (15, 'n15', 15.0, 'insert', 3)]},
 ('merge_prune_key', True): {'ret': 4,
                             'rows': [(2, 'r2', 2.0),
                                      (4, 'r4', 4.0),
                                      (6, 'r6', 6.0),
                                      (8, 'r8', 8.0),
                                      (12, 'r12', 12.0),
                                      (14, 'u14', 1.0),
                                      (15, 'n15', 15.0),
                                      (16, 'r16', 16.0),
                                      (18, 'r18', 18.0),
                                      (22, 'r22', 22.0),
                                      (24, 'r24', 24.0),
                                      (26, 'r26', 26.0),
                                      (28, 'r28', 28.0)],
                             'entries': [('merge',
                                          ['add', 'cdc', 'remove'],
                                          {'key': 'id', 'compare_cols': ['name', 'val']})],
                             'history': [(1, 5, None)],
                             'changes': [(14, 'r14', 14.0, 'update_preimage', 4),
                                         (14, 'u14', 1.0, 'update_postimage', 4),
                                         (15, 'n15', 15.0, 'insert', 4)]},
 ('merge_prune_partitions', False): {'ret': 1,
                                     'rows': [(1, 'r1', 1.0, 'd1'),
                                              (2, 'u2', 20.0, 'd1'),
                                              (3, 'r3', 3.0, 'd1'),
                                              (4, 'r4', 4.0, 'd1'),
                                              (5, 'r5', 5.0, 'd2'),
                                              (6, 'm6', 6.0, 'd1'),
                                              (6, 'r6', 6.0, 'd2'),
                                              (7, 'r7', 7.0, 'd2'),
                                              (8, 'r8', 8.0, 'd2'),
                                              (9, 'n9', 9.0, 'd1')],
                                     'entries': [('merge',
                                                  ['add', 'remove'],
                                                  {'key': 'id',
                                                   'compare_cols': ['name', 'val', 'day']})],
                                     'history': [(1, 6, None)],
                                     'changes': [(2, 'r2', 2.0, 'd1', 'update_preimage', 1),
                                                 (2, 'u2', 20.0, 'd1', 'update_postimage', 1),
                                                 (6, 'm6', 6.0, 'd1', 'insert', 1),
                                                 (9, 'n9', 9.0, 'd1', 'insert', 1)]},
 ('merge_prune_partitions', True): {'ret': 2,
                                    'rows': [(1, 'r1', 1.0, 'd1'),
                                             (2, 'u2', 20.0, 'd1'),
                                             (3, 'r3', 3.0, 'd1'),
                                             (4, 'r4', 4.0, 'd1'),
                                             (5, 'r5', 5.0, 'd2'),
                                             (6, 'm6', 6.0, 'd1'),
                                             (6, 'r6', 6.0, 'd2'),
                                             (7, 'r7', 7.0, 'd2'),
                                             (8, 'r8', 8.0, 'd2'),
                                             (9, 'n9', 9.0, 'd1')],
                                    'entries': [('merge',
                                                 ['add', 'cdc', 'remove'],
                                                 {'key': 'id',
                                                  'compare_cols': ['name', 'val', 'day']})],
                                    'history': [(1, 6, None)],
                                    'changes': [(2, 'r2', 2.0, 'd1', 'update_preimage', 2),
                                                (2, 'u2', 20.0, 'd1', 'update_postimage', 2),
                                                (6, 'm6', 6.0, 'd1', 'insert', 2),
                                                (9, 'n9', 9.0, 'd1', 'insert', 2)]},
 ('merge_evolve', False): {'ret': 3,
                           'rows': [(2, 'r2', 2.0, None),
                                    (4, 'r4', 4.0, 'gold'),
                                    (6, 'r6', 6.0, None),
                                    (8, 'r8', 8.0, None),
                                    (12, 'r12', 12.0, None),
                                    (14, 'r14', 14.0, None),
                                    (16, 'r16', 16.0, None),
                                    (18, 'r18', 18.0, None),
                                    (22, 'r22', 22.0, None),
                                    (24, 'u24', 24.0, 't'),
                                    (26, 'r26', 26.0, None),
                                    (28, 'r28', 28.0, None),
                                    (30, 'n30', 30.0, 'x')],
                           'entries': [('merge',
                                        ['add', 'meta', 'remove'],
                                        {'key': 'id', 'compare_cols': ['name', 'val', 'tier']})],
                           'history': [(3, 13, None)],
                           'changes': [(4, 'r4', 4.0, 'gold', 'update_postimage', 3),
                                       (4, 'r4', 4.0, None, 'update_preimage', 3),
                                       (24, 'r24', 24.0, None, 'update_preimage', 3),
                                       (24, 'u24', 24.0, 't', 'update_postimage', 3),
                                       (30, 'n30', 30.0, 'x', 'insert', 3)]},
 ('merge_evolve', True): {'ret': 4,
                          'rows': [(2, 'r2', 2.0, None),
                                   (4, 'r4', 4.0, 'gold'),
                                   (6, 'r6', 6.0, None),
                                   (8, 'r8', 8.0, None),
                                   (12, 'r12', 12.0, None),
                                   (14, 'r14', 14.0, None),
                                   (16, 'r16', 16.0, None),
                                   (18, 'r18', 18.0, None),
                                   (22, 'r22', 22.0, None),
                                   (24, 'u24', 24.0, 't'),
                                   (26, 'r26', 26.0, None),
                                   (28, 'r28', 28.0, None),
                                   (30, 'n30', 30.0, 'x')],
                          'entries': [('merge',
                                       ['add', 'cdc', 'meta', 'remove'],
                                       {'key': 'id', 'compare_cols': ['name', 'val', 'tier']})],
                          'history': [(3, 13, None)],
                          'changes': [(4, 'r4', 4.0, 'gold', 'update_postimage', 4),
                                      (4, 'r4', 4.0, None, 'update_preimage', 4),
                                      (24, 'r24', 24.0, None, 'update_preimage', 4),
                                      (24, 'u24', 24.0, 't', 'update_postimage', 4),
                                      (30, 'n30', 30.0, 'x', 'insert', 4)]},
 ('merge_into_clauses', False): {'ret': (3,
                                         {'rows_updated': 1,
                                          'rows_deleted': 1,
                                          'rows_inserted': 1,
                                          'files_rewritten': 2}),
                                 'rows': [(2, 'r2', 2.0),
                                          (4, 'u4', 5.0),
                                          (8, 'r8', 8.0),
                                          (12, 'r12', 12.0),
                                          (14, 'r14', 14.0),
                                          (16, 'r16', 16.0),
                                          (18, 'r18', 18.0),
                                          (22, 'r22', 22.0),
                                          (24, 'r24', 24.0),
                                          (26, 'r26', 26.0),
                                          (28, 'r28', 28.0),
                                          (30, 'n30', 3.0)],
                                 'entries': [('merge',
                                              ['add', 'remove'],
                                              {'merge_into': True,
                                               'condition': 't.id = s.id',
                                               'metrics': {'rows_updated': 1,
                                                           'rows_deleted': 1,
                                                           'rows_inserted': 1,
                                                           'files_rewritten': 2}})],
                                 'history': [(2,
                                              8,
                                              {'rows_updated': 1,
                                               'rows_deleted': 1,
                                               'rows_inserted': 1,
                                               'files_rewritten': 2})],
                                 'changes': ('ValueError', 'change feed crossed a merge')},
 ('merge_into_clauses', True): {'ret': (4,
                                        {'rows_updated': 1,
                                         'rows_deleted': 1,
                                         'rows_inserted': 1,
                                         'files_rewritten': 2}),
                                'rows': [(2, 'r2', 2.0),
                                         (4, 'u4', 5.0),
                                         (8, 'r8', 8.0),
                                         (12, 'r12', 12.0),
                                         (14, 'r14', 14.0),
                                         (16, 'r16', 16.0),
                                         (18, 'r18', 18.0),
                                         (22, 'r22', 22.0),
                                         (24, 'r24', 24.0),
                                         (26, 'r26', 26.0),
                                         (28, 'r28', 28.0),
                                         (30, 'n30', 3.0)],
                                'entries': [('merge',
                                             ['add', 'cdc', 'remove'],
                                             {'merge_into': True,
                                              'condition': 't.id = s.id',
                                              'metrics': {'rows_updated': 1,
                                                          'rows_deleted': 1,
                                                          'rows_inserted': 1,
                                                          'files_rewritten': 2}})],
                                'history': [(2,
                                             8,
                                             {'rows_updated': 1,
                                              'rows_deleted': 1,
                                              'rows_inserted': 1,
                                              'files_rewritten': 2})],
                                'changes': [(4, 'r4', 4.0, 'update_preimage', 4),
                                            (4, 'u4', 5.0, 'update_postimage', 4),
                                            (6, 'r6', 6.0, 'delete', 4),
                                            (30, 'n30', 3.0, 'insert', 4)]},
 ('merge_into_by_source', False): {'ret': (3,
                                           {'rows_updated': 5,
                                            'rows_deleted': 1,
                                            'rows_inserted': 0,
                                            'files_rewritten': 2}),
                                   'rows': [(4, 'r4', 1.0),
                                            (6, 'r6', 6.0),
                                            (8, 'r8', 8.0),
                                            (12, 'r12', 12.0),
                                            (14, 'r14', 14.0),
                                            (16, 'r16', 16.0),
                                            (18, 'r18', 18.0),
                                            (22, 'r22', -22.0),
                                            (24, 'r24', -24.0),
                                            (26, 'r26', -26.0),
                                            (28, 'r28', -28.0)],
                                   'entries': [('merge',
                                                ['add', 'remove'],
                                                {'merge_into': True,
                                                 'condition': 't.id = s.id',
                                                 'metrics': {'rows_updated': 5,
                                                             'rows_deleted': 1,
                                                             'rows_inserted': 0,
                                                             'files_rewritten': 2}})],
                                   'history': [(2,
                                                7,
                                                {'rows_updated': 5,
                                                 'rows_deleted': 1,
                                                 'rows_inserted': 0,
                                                 'files_rewritten': 2})],
                                   'changes': ('ValueError', 'change feed crossed a merge')},
 ('merge_into_by_source', True): {'ret': (4,
                                          {'rows_updated': 5,
                                           'rows_deleted': 1,
                                           'rows_inserted': 0,
                                           'files_rewritten': 2}),
                                  'rows': [(4, 'r4', 1.0),
                                           (6, 'r6', 6.0),
                                           (8, 'r8', 8.0),
                                           (12, 'r12', 12.0),
                                           (14, 'r14', 14.0),
                                           (16, 'r16', 16.0),
                                           (18, 'r18', 18.0),
                                           (22, 'r22', -22.0),
                                           (24, 'r24', -24.0),
                                           (26, 'r26', -26.0),
                                           (28, 'r28', -28.0)],
                                  'entries': [('merge',
                                               ['add', 'cdc', 'remove'],
                                               {'merge_into': True,
                                                'condition': 't.id = s.id',
                                                'metrics': {'rows_updated': 5,
                                                            'rows_deleted': 1,
                                                            'rows_inserted': 0,
                                                            'files_rewritten': 2}})],
                                  'history': [(2,
                                               7,
                                               {'rows_updated': 5,
                                                'rows_deleted': 1,
                                                'rows_inserted': 0,
                                                'files_rewritten': 2})],
                                  'changes': [(2, 'r2', 2.0, 'delete', 4),
                                              (4, 'r4', 1.0, 'update_postimage', 4),
                                              (4, 'r4', 4.0, 'update_preimage', 4),
                                              (22, 'r22', -22.0, 'update_postimage', 4),
                                              (22, 'r22', 22.0, 'update_preimage', 4),
                                              (24, 'r24', -24.0, 'update_postimage', 4),
                                              (24, 'r24', 24.0, 'update_preimage', 4),
                                              (26, 'r26', -26.0, 'update_postimage', 4),
                                              (26, 'r26', 26.0, 'update_preimage', 4),
                                              (28, 'r28', -28.0, 'update_postimage', 4),
                                              (28, 'r28', 28.0, 'update_preimage', 4)]},
 ('merge_into_scope', False): {'ret': (1,
                                       {'rows_updated': 1,
                                        'rows_deleted': 0,
                                        'rows_inserted': 1,
                                        'files_rewritten': 1}),
                               'rows': [(1, 'r1', 1.0, 'd1'),
                                        (2, 'r2', 20.0, 'd1'),
                                        (3, 'r3', 3.0, 'd1'),
                                        (4, 'r4', 4.0, 'd1'),
                                        (5, 'r5', 5.0, 'd2'),
                                        (6, 'r6', 6.0, 'd2'),
                                        (6, 'x6', 60.0, 'd2'),
                                        (7, 'r7', 7.0, 'd2'),
                                        (8, 'r8', 8.0, 'd2')],
                               'entries': [('merge',
                                            ['add', 'remove'],
                                            {'merge_into': True,
                                             'condition': "(t.id = s.id) AND t.`day` IN ('d1')",
                                             'metrics': {'rows_updated': 1,
                                                         'rows_deleted': 0,
                                                         'rows_inserted': 1,
                                                         'files_rewritten': 1}})],
                               'history': [(1,
                                            5,
                                            {'rows_updated': 1,
                                             'rows_deleted': 0,
                                             'rows_inserted': 1,
                                             'files_rewritten': 1})],
                               'changes': ('ValueError', 'change feed crossed a merge')},
 ('merge_into_scope', True): {'ret': (2,
                                      {'rows_updated': 1,
                                       'rows_deleted': 0,
                                       'rows_inserted': 1,
                                       'files_rewritten': 1}),
                              'rows': [(1, 'r1', 1.0, 'd1'),
                                       (2, 'r2', 20.0, 'd1'),
                                       (3, 'r3', 3.0, 'd1'),
                                       (4, 'r4', 4.0, 'd1'),
                                       (5, 'r5', 5.0, 'd2'),
                                       (6, 'r6', 6.0, 'd2'),
                                       (6, 'x6', 60.0, 'd2'),
                                       (7, 'r7', 7.0, 'd2'),
                                       (8, 'r8', 8.0, 'd2')],
                              'entries': [('merge',
                                           ['add', 'cdc', 'remove'],
                                           {'merge_into': True,
                                            'condition': "(t.id = s.id) AND t.`day` IN ('d1')",
                                            'metrics': {'rows_updated': 1,
                                                        'rows_deleted': 0,
                                                        'rows_inserted': 1,
                                                        'files_rewritten': 1}})],
                              'history': [(1,
                                           5,
                                           {'rows_updated': 1,
                                            'rows_deleted': 0,
                                            'rows_inserted': 1,
                                            'files_rewritten': 1})],
                              'changes': [(2, 'r2', 2.0, 'd1', 'update_preimage', 2),
                                          (2, 'r2', 20.0, 'd1', 'update_postimage', 2),
                                          (6, 'x6', 60.0, 'd2', 'insert', 2)]},
 ('update_plain', False): {'ret': (3, 2, 5),
                           'rows': [(2, 'r2', 2.0),
                                    (4, 'r4', 4.0),
                                    (6, 'r6', 6.0),
                                    (8, 'r8', 8.0),
                                    (12, 'r12', 12.0),
                                    (14, 'R14', 114.0),
                                    (16, 'R16', 116.0),
                                    (18, 'R18', 118.0),
                                    (22, 'R22', 122.0),
                                    (24, 'R24', 124.0),
                                    (26, 'r26', 26.0),
                                    (28, 'r28', 28.0)],
                           'entries': [('update',
                                        ['add', 'remove'],
                                        {'predicate': 'val > 13 AND val < 25',
                                         'set': {'name': 'upper(name)', 'val': 'val + 100'}})],
                           'history': [(2, 8, None)],
                           'changes': [(14, 'R14', 114.0, 'update_postimage', 3),
                                       (14, 'r14', 14.0, 'update_preimage', 3),
                                       (16, 'R16', 116.0, 'update_postimage', 3),
                                       (16, 'r16', 16.0, 'update_preimage', 3),
                                       (18, 'R18', 118.0, 'update_postimage', 3),
                                       (18, 'r18', 18.0, 'update_preimage', 3),
                                       (22, 'R22', 122.0, 'update_postimage', 3),
                                       (22, 'r22', 22.0, 'update_preimage', 3),
                                       (24, 'R24', 124.0, 'update_postimage', 3),
                                       (24, 'r24', 24.0, 'update_preimage', 3)]},
 ('update_plain', True): {'ret': (4, 2, 5),
                          'rows': [(2, 'r2', 2.0),
                                   (4, 'r4', 4.0),
                                   (6, 'r6', 6.0),
                                   (8, 'r8', 8.0),
                                   (12, 'r12', 12.0),
                                   (14, 'R14', 114.0),
                                   (16, 'R16', 116.0),
                                   (18, 'R18', 118.0),
                                   (22, 'R22', 122.0),
                                   (24, 'R24', 124.0),
                                   (26, 'r26', 26.0),
                                   (28, 'r28', 28.0)],
                          'entries': [('update',
                                       ['add', 'cdc', 'remove'],
                                       {'predicate': 'val > 13 AND val < 25',
                                        'set': {'name': 'upper(name)', 'val': 'val + 100'}})],
                          'history': [(2, 8, None)],
                          'changes': [(14, 'R14', 114.0, 'update_postimage', 4),
                                      (14, 'r14', 14.0, 'update_preimage', 4),
                                      (16, 'R16', 116.0, 'update_postimage', 4),
                                      (16, 'r16', 16.0, 'update_preimage', 4),
                                      (18, 'R18', 118.0, 'update_postimage', 4),
                                      (18, 'r18', 18.0, 'update_preimage', 4),
                                      (22, 'R22', 122.0, 'update_postimage', 4),
                                      (22, 'r22', 22.0, 'update_preimage', 4),
                                      (24, 'R24', 124.0, 'update_postimage', 4),
                                      (24, 'r24', 24.0, 'update_preimage', 4)]},
 ('update_pruned', False): {'ret': (3, 1, 3),
                            'rows': [(2, 'r2', 2.0),
                                     (4, 'r4', 4.0),
                                     (6, 'r6', 6.0),
                                     (8, 'r8', 8.0),
                                     (12, 'r12', 12.0),
                                     (14, 'r14', -14.0),
                                     (16, 'r16', -16.0),
                                     (18, 'r18', -18.0),
                                     (22, 'r22', 22.0),
                                     (24, 'r24', 24.0),
                                     (26, 'r26', 26.0),
                                     (28, 'r28', 28.0)],
                            'entries': [('update',
                                         ['add', 'remove'],
                                         {'predicate': 'id >= 14', 'set': {'val': '-val'}})],
                            'history': [(1, 4, None)],
                            'changes': [(14, 'r14', -14.0, 'update_postimage', 3),
                                        (14, 'r14', 14.0, 'update_preimage', 3),
                                        (16, 'r16', -16.0, 'update_postimage', 3),
                                        (16, 'r16', 16.0, 'update_preimage', 3),
                                        (18, 'r18', -18.0, 'update_postimage', 3),
                                        (18, 'r18', 18.0, 'update_preimage', 3)]},
 ('update_pruned', True): {'ret': (4, 1, 3),
                           'rows': [(2, 'r2', 2.0),
                                    (4, 'r4', 4.0),
                                    (6, 'r6', 6.0),
                                    (8, 'r8', 8.0),
                                    (12, 'r12', 12.0),
                                    (14, 'r14', -14.0),
                                    (16, 'r16', -16.0),
                                    (18, 'r18', -18.0),
                                    (22, 'r22', 22.0),
                                    (24, 'r24', 24.0),
                                    (26, 'r26', 26.0),
                                    (28, 'r28', 28.0)],
                           'entries': [('update',
                                        ['add', 'cdc', 'remove'],
                                        {'predicate': 'id >= 14', 'set': {'val': '-val'}})],
                           'history': [(1, 4, None)],
                           'changes': [(14, 'r14', -14.0, 'update_postimage', 4),
                                       (14, 'r14', 14.0, 'update_preimage', 4),
                                       (16, 'r16', -16.0, 'update_postimage', 4),
                                       (16, 'r16', 16.0, 'update_preimage', 4),
                                       (18, 'r18', -18.0, 'update_postimage', 4),
                                       (18, 'r18', 18.0, 'update_preimage', 4)]},
 ('update_partitions', False): {'ret': (1, 1, 4),
                                'rows': [(1, 'r1', 1.0, 'd1'),
                                         (2, 'r2', 2.0, 'd1'),
                                         (3, 'r3', 3.0, 'd1'),
                                         (4, 'r4', 4.0, 'd1'),
                                         (5, 'r5', 50.0, 'd2'),
                                         (6, 'r6', 60.0, 'd2'),
                                         (7, 'r7', 70.0, 'd2'),
                                         (8, 'r8', 80.0, 'd2')],
                                'entries': [('update',
                                             ['add', 'remove'],
                                             {'predicate': "(val > 1) AND `day` IN ('d2')",
                                              'set': {'val': 'val * 10'}})],
                                'history': [(1, 4, None)],
                                'changes': [(5, 'r5', 5.0, 'd2', 'update_preimage', 1),
                                            (5, 'r5', 50.0, 'd2', 'update_postimage', 1),
                                            (6, 'r6', 6.0, 'd2', 'update_preimage', 1),
                                            (6, 'r6', 60.0, 'd2', 'update_postimage', 1),
                                            (7, 'r7', 7.0, 'd2', 'update_preimage', 1),
                                            (7, 'r7', 70.0, 'd2', 'update_postimage', 1),
                                            (8, 'r8', 8.0, 'd2', 'update_preimage', 1),
                                            (8, 'r8', 80.0, 'd2', 'update_postimage', 1)]},
 ('update_partitions', True): {'ret': (2, 1, 4),
                               'rows': [(1, 'r1', 1.0, 'd1'),
                                        (2, 'r2', 2.0, 'd1'),
                                        (3, 'r3', 3.0, 'd1'),
                                        (4, 'r4', 4.0, 'd1'),
                                        (5, 'r5', 50.0, 'd2'),
                                        (6, 'r6', 60.0, 'd2'),
                                        (7, 'r7', 70.0, 'd2'),
                                        (8, 'r8', 80.0, 'd2')],
                               'entries': [('update',
                                            ['add', 'cdc', 'remove'],
                                            {'predicate': "(val > 1) AND `day` IN ('d2')",
                                             'set': {'val': 'val * 10'}})],
                               'history': [(1, 4, None)],
                               'changes': [(5, 'r5', 5.0, 'd2', 'update_preimage', 2),
                                           (5, 'r5', 50.0, 'd2', 'update_postimage', 2),
                                           (6, 'r6', 6.0, 'd2', 'update_preimage', 2),
                                           (6, 'r6', 60.0, 'd2', 'update_postimage', 2),
                                           (7, 'r7', 7.0, 'd2', 'update_preimage', 2),
                                           (7, 'r7', 70.0, 'd2', 'update_postimage', 2),
                                           (8, 'r8', 8.0, 'd2', 'update_preimage', 2),
                                           (8, 'r8', 80.0, 'd2', 'update_postimage', 2)]},
 ('delete_plain', False): {'ret': (3, 2, 1),
                           'rows': [(2, 'r2', 2.0),
                                    (6, 'r6', 6.0),
                                    (8, 'r8', 8.0),
                                    (12, 'r12', 12.0),
                                    (14, 'r14', 14.0),
                                    (16, 'r16', 16.0),
                                    (18, 'r18', 18.0),
                                    (22, 'r22', 22.0),
                                    (26, 'r26', 26.0),
                                    (28, 'r28', 28.0)],
                           'entries': [('delete',
                                        ['add', 'remove'],
                                        {'predicate': 'id IN (4, 24)'})],
                           'history': [(2, 6, None)],
                           'changes': [(4, 'r4', 4.0, 'delete', 3),
                                       (24, 'r24', 24.0, 'delete', 3)]},
 ('delete_plain', True): {'ret': (4, 2, 1),
                          'rows': [(2, 'r2', 2.0),
                                   (6, 'r6', 6.0),
                                   (8, 'r8', 8.0),
                                   (12, 'r12', 12.0),
                                   (14, 'r14', 14.0),
                                   (16, 'r16', 16.0),
                                   (18, 'r18', 18.0),
                                   (22, 'r22', 22.0),
                                   (26, 'r26', 26.0),
                                   (28, 'r28', 28.0)],
                          'entries': [('delete',
                                       ['add', 'cdc', 'remove'],
                                       {'predicate': 'id IN (4, 24)'})],
                          'history': [(2, 6, None)],
                          'changes': [(4, 'r4', 4.0, 'delete', 4),
                                      (24, 'r24', 24.0, 'delete', 4)]},
 ('delete_pruned', False): {'ret': (3, 1, 2),
                            'rows': [(2, 'r2', 2.0),
                                     (4, 'r4', 4.0),
                                     (6, 'r6', 6.0),
                                     (8, 'r8', 8.0),
                                     (12, 'r12', 12.0),
                                     (14, 'r14', 14.0),
                                     (16, 'r16', 16.0),
                                     (18, 'r18', 18.0),
                                     (22, 'r22', 22.0),
                                     (24, 'r24', 24.0)],
                            'entries': [('delete', ['add', 'remove'], {'predicate': 'id > 25'})],
                            'history': [(1, 2, None)],
                            'changes': [(26, 'r26', 26.0, 'delete', 3),
                                        (28, 'r28', 28.0, 'delete', 3)]},
 ('delete_pruned', True): {'ret': (4, 1, 2),
                           'rows': [(2, 'r2', 2.0),
                                    (4, 'r4', 4.0),
                                    (6, 'r6', 6.0),
                                    (8, 'r8', 8.0),
                                    (12, 'r12', 12.0),
                                    (14, 'r14', 14.0),
                                    (16, 'r16', 16.0),
                                    (18, 'r18', 18.0),
                                    (22, 'r22', 22.0),
                                    (24, 'r24', 24.0)],
                           'entries': [('delete',
                                        ['add', 'cdc', 'remove'],
                                        {'predicate': 'id > 25'})],
                           'history': [(1, 2, None)],
                           'changes': [(26, 'r26', 26.0, 'delete', 4),
                                       (28, 'r28', 28.0, 'delete', 4)]},
 ('delete_partitions', False): {'ret': (1, 1, 1),
                                'rows': [(1, 'r1', 1.0, 'd1'),
                                         (3, 'r3', 3.0, 'd1'),
                                         (5, 'r5', 5.0, 'd2'),
                                         (6, 'r6', 6.0, 'd2'),
                                         (7, 'r7', 7.0, 'd2'),
                                         (8, 'r8', 8.0, 'd2')],
                                'entries': [('delete',
                                             ['add', 'remove'],
                                             {'predicate': "(id % 2 = 0) AND `day` IN ('d1')"})],
                                'history': [(1, 2, None)],
                                'changes': [(2, 'r2', 2.0, 'd1', 'delete', 1),
                                            (4, 'r4', 4.0, 'd1', 'delete', 1)]},
 ('delete_partitions', True): {'ret': (2, 1, 1),
                               'rows': [(1, 'r1', 1.0, 'd1'),
                                        (3, 'r3', 3.0, 'd1'),
                                        (5, 'r5', 5.0, 'd2'),
                                        (6, 'r6', 6.0, 'd2'),
                                        (7, 'r7', 7.0, 'd2'),
                                        (8, 'r8', 8.0, 'd2')],
                               'entries': [('delete',
                                            ['add', 'cdc', 'remove'],
                                            {'predicate': "(id % 2 = 0) AND `day` IN ('d1')"})],
                               'history': [(1, 2, None)],
                               'changes': [(2, 'r2', 2.0, 'd1', 'delete', 2),
                                           (4, 'r4', 4.0, 'd1', 'delete', 2)]}}


@pytest.mark.parametrize("cdf", [False, True], ids=["cdf_off", "cdf_on"])
@pytest.mark.parametrize("name", list(CASES))
def test_dml_golden(spark, bases, tmp_path, name, cdf):
    assert outcome(spark, bases, tmp_path, name, cdf) == EXPECTED[(name, cdf)]
