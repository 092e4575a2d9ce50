import os

import numpy as np
import pyarrow.parquet as pq

import datagen
from model import OrdersModel


def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_sources(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.write_sources(a, 7, 0.1)
    datagen.write_sources(b, 7, 0.1)
    datagen.write_sources(c, 8, 0.1)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert ta.keys() == tb.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert not ta["lineitem.parquet"].equals(tc["lineitem.parquet"])


def test_source_schema_matches_operator_contract(tmp_path):
    datagen.write_sources(str(tmp_path), 1, 0.1)
    orders = pq.read_schema(tmp_path / "orders.parquet")
    assert orders.remove_metadata() == datagen.ORDERS_SCHEMA
    emb = pq.read_schema(tmp_path / "embeddings.parquet")
    assert [f.name for f in emb] == ["vec_id", "embedding", "label"]


def _initial():
    rng = np.random.default_rng(0)
    return datagen.orders_rows(datagen.orders_columns(rng, np.arange(500), 50))


def _stream(seed):
    initial = _initial()
    model = OrdersModel(initial)
    stream = datagen.ChangeStream(seed, next_key=500, n_cust=50)
    out = []
    for _ in range(4):
        batch = stream.batch(model.rows)
        model.apply_cdc(batch)
        out.append(batch)
        out.append(stream.update_statement(model.rows))
        out.append(stream.merge_source(model.rows))
    return out


def test_same_seed_gives_identical_change_stream():
    assert _stream(3) == _stream(3)
    assert _stream(3) != _stream(4)


def test_change_batches_are_valid_debezium():
    initial = _initial()
    model = OrdersModel(initial)
    stream = datagen.ChangeStream(1, next_key=500, n_cust=50)
    seen_ops = set()
    for _ in range(5):
        batch = stream.batch(model.rows)
        ts = [e[3] for e in batch]
        assert len(set(ts)) == len(ts)
        for op, before, after, _ in batch:
            seen_ops.add(op)
            assert (before is None) == (op == "c")
            assert (after is None) == (op == "d")
        model.apply_cdc(batch)
    assert seen_ops == {"c", "u", "d"}
