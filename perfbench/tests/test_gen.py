"""Seeded generators and the pacer's lateness accounting on a fake clock."""

from types import SimpleNamespace

import numpy as np

from perfbench import gen, oracle, streams


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, seconds):
        self.t += seconds


def test_pacer_lateness_on_fake_clock():
    clock = FakeClock()
    cost = {1: 0.25}  # release 1 stalls for 250 ms; the others take 10 ms

    def release(i, due):
        clock.t += cost.get(i, 0.01)

    dues = [0.0, 0.1, 0.2, 0.3, 0.7]
    pacer = gen.Pacer(dues, release, clock=clock, sleep=clock.sleep)
    pacer.run()
    assert pacer.error is None
    # the schedule never slips: a stall makes later chunks late, it does
    # not push their due times back
    assert pacer.dues == dues
    assert np.allclose(pacer.lateness(), [0.01, 0.25, 0.16, 0.07, 0.01])


def test_pacer_reports_release_errors():
    def release(i, due):
        raise OSError("disk full")

    pacer = gen.Pacer([0.0], release, clock=FakeClock(), sleep=lambda s: None)
    pacer.run()
    assert isinstance(pacer.error, OSError)


def test_change_chunks_are_seeded():
    a = gen.ChangeChunks(7, 3, 50)
    b = gen.ChangeChunks(7, 3, 50)
    c = gen.ChangeChunks(8, 3, 50)
    assert a.table(1, 0).equals(b.table(1, 0))
    assert not a.table(1, 0).equals(c.table(1, 0))
    assert list(a.ids(2)) == list(range(100, 150))
    # DELETE carries only the old record, INSERT only the new one
    t = a.table(0, 0).to_pydict()
    for action, rec, old in zip(t["action"], t["record"], t["old_record"]):
        assert (rec is None) == (action == "DELETE")
        assert (old is None) == (action == "INSERT")


def test_items_are_due_one_by_one_before_their_chunk():
    ctx = SimpleNamespace(common={"setup_reps": 1, "warmup_s": 1.0}, seconds=1.0)
    paced = streams.PacedStream(ctx, {"chunk": 100, "rate_per_s": 1000, "drain_items": 1000})
    dues = paced.item_dues(10.0)
    # 1,000/s: one item every millisecond, the last due when the chunk is
    # released, the first one interval (100 ms) after the previous release
    assert len(dues) == 100
    assert dues[-1] == 10.0
    assert np.allclose(np.diff(dues), 0.001)
    assert np.isclose(dues[0], 9.901)
    stamps = gen.ChangeChunks(7, 1, 100).table(0, paced.wall_us(dues))
    assert len(set(stamps.column("commit_timestamp").to_pylist())) == 100


def test_fanin_specs_cover_every_operator():
    specs = gen.fanin_specs(3, 200)
    assert len({s["subscription_id"] for s in specs}) == 200
    text = " ".join(s["filters"] for s in specs)
    for op in gen.FANIN_OPS:
        assert f"={op}." in text or f"=not.{op}." in text
    assert specs == gen.fanin_specs(3, 200)


def test_filter_sql_translation():
    assert oracle.filter_sql(None) == "TRUE"
    assert oracle.filter_sql("o_orderstatus=eq.F") == "(o_orderstatus = 'F')"
    assert oracle.filter_sql("o_custkey=in.(1,2)") == (
        "(o_custkey IN (CAST('1' AS BIGINT), CAST('2' AS BIGINT)))")
    assert oracle.filter_sql("o_nullable=not.is.null,o_totalprice=gt.5") == (
        "NOT (o_nullable IS NULL) AND (o_totalprice > CAST('5' AS DOUBLE))")


def test_cdc_reference_pairs():
    import pandas as pd

    truth = pd.DataFrame({
        "change_id": [1, 2, 3],
        "action": ["INSERT", "UPDATE", "DELETE"],
        "o_orderkey": [1, 2, 3],
        "o_custkey": [10, 20, 30],
        "o_orderstatus": ["F", "O", "F"],
        "o_totalprice": [10.0, 300000.0, 5.0],
        "o_orderpriority": ["1-URGENT", "5-LOW", "1-URGENT"],
        "o_nullable": [None, "5-LOW", "1-URGENT"],
    })
    specs = [
        {"subscription_id": "a", "table": "orders", "filters": "o_orderstatus=eq.F"},
        {"subscription_id": "b", "table": "orders", "action": "UPDATE"},
        {"subscription_id": "c", "table": "customers"},
        {"subscription_id": "d", "table": "orders", "filters": "o_nullable=is.null"},
    ]
    assert oracle.cdc_expected_pairs(truth, specs) == {
        (1, "a"), (3, "a"), (2, "b"), (1, "d")}


def test_warehouse_tables_are_seeded():
    a = gen.warehouse_tables(5, 300)
    b = gen.warehouse_tables(5, 300)
    assert set(a) == {"orders", "customer", "nation", "events", "documents"}
    assert all(a[k].equals(b[k]) for k in a)
    assert a["orders"].num_rows == 300
