"""Driver-held datom batches as Arrow LocalRelations
(``engine.local_frame``): the frames keep the schema and rows that
``createDataFrame`` over the same row list gives, none of them plans a
Python-RDD scan, and ``Engine.transact`` merges value types before it
mutates any attribute."""

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError

from declarative_dataflow_spark.engine import (
    AttributeConfig,
    Datom,
    InputSemantics,
    _apply_input_semantics,
    _TransactedAttribute,
)
from declarative_dataflow_spark.server import _decode_datom
from declarative_dataflow_spark.streaming import incremental
from declarative_dataflow_spark.streaming.incremental import (
    DeltaJoin,
    SemanticsDeltaSource,
)
from declarative_dataflow_spark.plan.plans import AttributeBinding

_NAMES = ["e", "v", "t", "diff", "__seq"]

# One attribute's batches, as reference wire values (plan/wire.py
# decode_value); each inner list is one Transact.
_KINDS = {
    "eid": [[{"Eid": 1}, {"Eid": 2}]],
    "number": [[{"Number": -7}, {"Number": 3}]],
    "instant": [[{"Instant": 1_700_000_000_000}]],
    "string": [[{"String": "x"}, {"String": ""}]],
    "aid": [[{"Aid": "person/name"}]],
    "uuid": [[{"Uuid": "6f1c2b9e-0a4d-4e39-9d52-7c1f0e3a9b11"}]],
    "bool": [[{"Bool": True}, {"Bool": False}]],
    "real": [[{"Real": 81920}, {"Real": -1}]],
    "rational": [[{"Rational32": [1, 3]}, {"Rational32": [-5, 2]}]],
    "null_and_number": [[None], [{"Number": 2}]],
    "int_then_string": [[{"Number": 1}, {"Number": 2}], [{"String": "a"}]],
    "string_then_int_bool": [
        [{"String": "a"}],
        [{"Number": 1}, {"Bool": True}],
    ],
}


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _sorted(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _transact_wire(engine, aid, batches):
    """Transact each batch through the wire decoder; returns the raw
    (e, v, t, diff, seq) rows a plain row-list frame would be built
    from."""

    raw = []
    for batch in batches:
        datoms = [
            _decode_datom([{"Eid": 100 + len(raw) + i}, aid, v, None, 1])
            for i, v in enumerate(batch)
        ]
        tx = engine.transact(datoms)
        raw += [
            (d.e, d.v, tx, d.diff, len(raw) + i) for i, d in enumerate(datoms)
        ]
    return raw


@pytest.mark.parametrize("kind", sorted(_KINDS))
def test_attribute_frame_matches_row_list_frame(spark, engine, kind):
    engine.create_attribute("a")
    raw = _transact_wire(engine, "a", _KINDS[kind])
    ta = engine._transacted["a"]
    got = ta.dataframe()
    want = _apply_input_semantics(
        spark.createDataFrame(raw).toDF(*_NAMES), ta.config
    )
    assert got.schema == want.schema
    assert _sorted(got) == _sorted(want)
    assert "LocalRelation" in _analyzed(got)
    assert "LogicalRDD" not in _analyzed(got)


@pytest.mark.parametrize(
    "batches",
    [
        [[(1, "a")], [(2, 3)]],
        [[[1, 2]], [["x", True]]],
        [[{"k": 1}], [{"k": "x"}]],
    ],
    ids=["struct", "array", "map"],
)
def test_nested_values_match_row_list_frame(spark, engine, batches):
    """Python-API values the wire never sends: tuples, lists and dicts
    infer to struct, array and map types, and merged string fields
    inside them convert element-wise."""

    engine.create_attribute("a")
    raw = []
    for batch in batches:
        rows = [(len(raw) + i, v) for i, v in enumerate(batch)]
        tx = engine.transact([Datom.add(e, "a", v) for e, v in rows])
        raw += [(e, v, tx, 1, e) for e, v in rows]
    got = engine._transacted["a"].dataframe()
    want = spark.createDataFrame(raw).toDF(*_NAMES).drop("__seq")
    assert got.schema == want.schema
    assert _sorted(got) == _sorted(want)


def test_mixed_values_stringify_like_row_list_frame(spark, engine):
    """Long merged with string is string; the ints already held are
    converted to the strings the JVM path produced ("1", booleans
    lowercase)."""

    engine.create_attribute("a")
    _transact_wire(engine, "a", _KINDS["string_then_int_bool"])
    _transact_wire(engine, "a", [[{"Real": 98304}]])
    got = engine._transacted["a"].dataframe().collect()
    assert sorted(r["v"] for r in got) == ["1", "1.5", "a", "true"]


def test_cas_frame_matches_row_list_frame(spark, engine):
    engine.create_attribute(
        "c", AttributeConfig(input_semantics=InputSemantics.COMPARE_AND_SWAP)
    )
    raw = []
    for e, cas in (
        (1, [None, {"Number": 5}]),
        (1, [{"Number": 5}, {"Number": 6}]),
        (2, [None, None]),
        (3, [{"Number": 9}, {"Number": 1}]),
    ):
        d = _decode_datom([{"Eid": e}, "c", {"Cas": cas}, None, 1])
        tx = engine.transact([d])
        raw.append((d.e, d.v, tx, d.diff, len(raw)))
    ta = engine._transacted["c"]
    assert ta._raw_dataframe().schema.simpleString() == (
        "struct<e:bigint,v:struct<old:bigint,new:bigint>,"
        "t:bigint,diff:bigint,__seq:bigint>"
    )
    want = _apply_input_semantics(
        spark.createDataFrame(raw, schema=ta._cas_schema()), ta.config
    )
    got = ta.dataframe()
    assert got.schema == want.schema
    assert _sorted(got) == _sorted(want) == [(1, 6, 1, 1)]
    assert "LogicalRDD" not in _analyzed(ta._raw_dataframe())


def test_all_null_column_raises_like_row_list_frame(spark, engine):
    engine.create_attribute("n")
    raw = _transact_wire(engine, "n", [[None, None]])
    with pytest.raises(PySparkValueError) as want:
        spark.createDataFrame(raw)
    with pytest.raises(PySparkValueError) as got:
        engine._transacted["n"].dataframe()
    assert got.value.getCondition() == want.value.getCondition()
    assert got.value.getCondition() == "CANNOT_DETERMINE_TYPE"


def test_empty_attribute_frame(spark, engine):
    engine.create_attribute("z")
    got = engine._transacted["z"].dataframe()
    want = spark.createDataFrame(
        [], schema=_TransactedAttribute._SCHEMA
    ).select("e", "v", "t", "diff")
    assert got.schema == want.schema
    assert got.collect() == []
    assert "LogicalRDD" not in _analyzed(got)


def test_unmergeable_batch_leaves_every_attribute_unmutated(engine):
    """long vs double cannot merge: the transaction raises and neither
    the attribute that would merge (transacted first) nor the failing
    one changes."""

    engine.create_attribute("a")
    engine.create_attribute("b")
    engine.transact([Datom.add(1, "a", 1), Datom.add(1, "b", "x")])
    before = {
        aid: (list(ta.rows), ta.schema, ta._seq)
        for aid, ta in engine._transacted.items()
    }
    tx = engine.next_tx
    with pytest.raises(PySparkTypeError):
        engine.transact([Datom.add(2, "b", "y"), Datom.add(2, "a", 2.5)])
    assert engine.next_tx == tx
    for aid, ta in engine._transacted.items():
        assert (ta.rows, ta.schema, ta._seq) == before[aid]
    assert _sorted(engine._transacted["b"].dataframe()) == [(1, "x", 0, 1)]


def test_delta_join_deltas_are_local_relations(spark):
    """DeltaJoin deltas are consolidated on the driver: the same rows
    and types as the Spark-side consolidation of a row-list frame, a
    batch that nets to nothing yields no delta, and no frame is a
    Python-RDD scan or a checkpoint."""

    dj = DeltaJoin(spark, ["?a", "?b"], [AttributeBinding("?a", "r", "?b")])
    datoms = [
        Datom.add(1, "r", 2),
        Datom.add(1, "r", 2),
        Datom.add(3, "r", 4),
        Datom.retract(3, "r", 4),
        Datom.retract(5, "r", 6),
        Datom.add(7, "s", "x"),
        Datom.retract(7, "s", "x"),
    ]
    deltas = dj._deltas(datoms)
    assert set(deltas) == {"r"}
    got = deltas["r"]
    want = DeltaJoin._consolidate(
        spark.createDataFrame(
            [(d.e, d.v, d.diff) for d in datoms if d.a == "r"]
        ).toDF("e", "v", "diff")
    )
    assert got.schema == want.schema
    assert _sorted(got) == _sorted(want) == [(1, 2, 2), (5, 6, -1)]
    assert "LogicalRDD" not in _analyzed(got)


def test_semantics_touched_frame_is_local_relation(engine, monkeypatch):
    engine.create_attribute(
        "w", AttributeConfig(input_semantics=InputSemantics.LAST_WRITE_WINS)
    )
    engine.transact([Datom.add(1, "w", "a"), Datom.add(2, "w", "b")])
    src = SemanticsDeltaSource(engine._transacted["w"])
    frames = []
    local_frame = incremental.local_frame

    def spy(spark, rows, schema):
        frames.append(local_frame(spark, rows, schema))
        return frames[-1]

    monkeypatch.setattr(incremental, "local_frame", spy)
    batch = [
        Datom.add(1, "w", "c"),
        Datom.add(1, "w", "d"),
        Datom.add(3, "w", "e"),
    ]
    engine.transact(batch)
    delta = src.delta([(d.e, d.v, d.diff) for d in batch])
    assert len(frames) == 1
    assert _sorted(frames[0]) == [(1,), (3,)]
    assert "LogicalRDD" not in _analyzed(frames[0])
    assert _sorted(delta) == [(1, "a", -1), (1, "d", 1), (3, "e", 1)]
