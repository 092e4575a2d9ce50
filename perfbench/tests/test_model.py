from model import OrdersModel


def _row(k, v):
    return (k, v)


def test_latest_ts_wins_when_a_key_repeats_in_a_batch():
    m = OrdersModel([_row(1, "a"), _row(2, "b"), _row(3, "c")])
    batch = [
        ("u", _row(1, "a"), _row(1, "a2"), 10),
        ("d", _row(1, "a"), None, 5),          # older than the update: loses
        ("u", _row(2, "b"), _row(2, "b2"), 11),
        ("d", _row(2, "b2"), None, 12),        # newest: the key is deleted
        ("c", None, _row(4, "d"), 13),
        ("u", _row(4, "d"), _row(4, "d2"), 14),
        ("u", _row(3, "c"), _row(3, "c3"), 16),
        ("u", _row(3, "c"), _row(3, "c2"), 15),  # listed last but older
    ]
    assert m.apply_cdc(batch) == 4
    assert m.snapshot() == {1: _row(1, "a2"), 3: _row(3, "c3"), 4: _row(4, "d2")}


def test_delete_then_recreate_in_one_batch():
    m = OrdersModel([_row(1, "a")])
    m.apply_cdc([("d", _row(1, "a"), None, 1), ("c", None, _row(1, "new"), 2)])
    assert m.snapshot() == {1: _row(1, "new")}


def test_update_and_upsert():
    m = OrdersModel([_row(1, "a"), _row(2, "b")])
    assert m.update([1, 3], {1: "x"}) == 1
    assert m.upsert([_row(3, "c")]) == 1
    assert m.get([1, 2, 3, 9]) == {1: _row(1, "x"), 2: _row(2, "b"), 3: _row(3, "c")}
