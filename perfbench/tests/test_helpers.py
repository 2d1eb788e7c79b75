"""Self-tests for the benchmark's helpers (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import measure  # noqa: E402


# ----------------------------------------------------------- tail percentile
@pytest.mark.parametrize(
    "n, p",
    [(100, 90), (200, 95), (1000, 99), (11, 9), (20, 50), (40, 75)],
)
def test_tail_percentile_leaves_at_least_ten_beyond(n, p):
    values = [float(i) for i in range(1, n + 1)]
    got_p, got_n, value = measure.tail_percentile(values)
    assert (got_p, got_n) == (p, n)
    beyond = sum(v > value for v in values)
    assert beyond >= 10
    # the next whole percentile would leave fewer than ten beyond
    rank_next = -(-n * (p + 1) // 100)
    assert n - rank_next < 10


def test_tail_percentile_small_samples_report_minimum():
    assert measure.tail_percentile([3.0, 1.0, 2.0]) == (0.0, 3, 1.0)
    assert measure.tail_percentile([5.0] * 10) == (0.0, 10, 5.0)
    assert measure.tail_percentile([]) == (0.0, 0, 0.0)


def test_tail_percentile_is_order_independent():
    values = [0.5, 0.1, 0.9, 0.3, 0.7] * 10
    assert measure.tail_percentile(values) == measure.tail_percentile(sorted(values))


# ----------------------------------------------------------------- self time
def _span(name, start, end, parent=None):
    return measure.Span(name, start, end, parent, op=1)


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span("bench.op", 0.0, 10.0),
        _span("workloads.call", 1.0, 6.0, parent=0),
        _span("engine.query", 2.0, 5.0, parent=1),
        _span("query.parse", 2.5, 3.0, parent=2),
        _span("spark.sink", 6.0, 9.5, parent=0),
    ]
    got = measure.self_times(spans)
    assert got["bench.op"] == pytest.approx(10.0 - 5.0 - 3.5)
    assert got["workloads.call"] == pytest.approx(5.0 - 3.0)
    assert got["engine.query"] == pytest.approx(3.0 - 0.5)
    assert got["query.parse"] == pytest.approx(0.5)
    assert got["spark.sink"] == pytest.approx(3.5)
    # self times partition the root's duration
    assert sum(got.values()) == pytest.approx(10.0)


def test_self_time_sums_repeated_names():
    spans = [
        _span("bench.op", 0.0, 4.0),
        _span("query.parse", 0.0, 1.0, parent=0),
        _span("query.parse", 2.0, 2.5, parent=0),
    ]
    assert measure.self_times(spans)["query.parse"] == pytest.approx(1.5)


def test_tracer_nests_spans_and_records_parents():
    tr = measure.Tracer()
    tr.op = 7
    with tr.span("bench.op"):
        with tr.span("engine.query"):
            time.sleep(0.001)
        fn = tr.wrap("query.parse", lambda x: x + 1)
        assert fn(1) == 2
    names = [(s.name, s.parent, s.op) for s in tr.spans]
    assert names == [("bench.op", None, 7), ("engine.query", 0, 7), ("query.parse", 0, 7)]
    assert all(s.end >= s.start for s in tr.spans)
    assert measure.layer_of("engine.query") == "engine"


# -------------------------------------------------------------- py4j counter
def test_py4j_counter_skips_memory_commands():
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    c = measure.Py4JCounter()
    c.observe("c\no0\ncount\ne\n")
    c.observe(MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME + "o12\ne\n")
    c.observe("r\nu\norg\ne\n")
    assert c.calls == 2


def test_py4j_counter_counts_only_its_own_thread():
    import threading

    c = measure.Py4JCounter()
    t = threading.Thread(target=c.observe, args=("c\no1\nrun\ne\n",))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    assert c.calls == 0
    c.observe("c\no1\nrun\ne\n")
    assert c.calls == 1


def test_py4j_counter_install_wraps_and_restores_send_command(monkeypatch):
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    sent = []

    def fake_send(conn, command):
        sent.append(command)
        return "ok"

    monkeypatch.setattr(ClientServerConnection, "send_command", fake_send)
    monkeypatch.setattr(GatewayConnection, "send_command", fake_send)
    c = measure.Py4JCounter().install()
    try:
        send = ClientServerConnection.send_command
        assert send(None, "c\no0\nx\ne\n") == "ok"
        assert send(None, MEMORY_COMMAND_NAME + "d\no3\ne\n") == "ok"
        assert c.calls == 1 and len(sent) == 2
    finally:
        c.uninstall()
    assert ClientServerConnection.send_command is fake_send
    assert GatewayConnection.send_command is fake_send


# ---------------------------------------------------------------- RSS reader
def test_read_vmhwm_of_self_is_positive_and_monotone():
    before = measure.read_vmhwm_kb()
    blob = bytearray(64 * 1024 * 1024)
    for i in range(0, len(blob), 4096):
        blob[i] = 1
    after = measure.read_vmhwm_kb(os.getpid())
    assert before > 0
    assert after >= before
    assert after >= 64 * 1024
    del blob


def test_read_vmhwm_rejects_status_without_the_line(tmp_path, monkeypatch):
    import builtins

    fake = tmp_path / "status"
    fake.write_text("Name:\tx\nVmRSS:\t10 kB\n")
    real_open = builtins.open
    monkeypatch.setattr(
        builtins, "open", lambda p, *a, **k: real_open(fake if "/proc/" in str(p) else p, *a, **k)
    )
    with pytest.raises(ValueError):
        measure.read_vmhwm_kb(1)


def test_cpu_steal_reads_host_counters():
    steal, total = measure.cpu_steal()
    assert 0 <= steal <= total and total > 0


# ------------------------------------------------------------ derived inputs
def test_derive_is_a_function_of_the_seed():
    from perfbench import gen

    a, b, c = (gen.derive(s, 2, gen.TABLES) for s in (1, 1, 2))
    for t in gen.TABLES:
        assert a[t].equals(b[t])
        assert not a[t].equals(c[t])
        assert a[t].schema.types == c[t].schema.types


def test_derive_keeps_keys_unique_and_graph_degrees():
    import collections

    import pyarrow.parquet as pq

    from perfbench import gen

    t = gen.derive(3, 2, gen.TABLES)
    src = {n: pq.read_table(os.path.join(gen.SOURCE_DIR, f"{n}.parquet")) for n in gen.TABLES}
    for name, key in (("events", "event_id"), ("documents", "doc_id"),
                      ("embeddings", "vec_id"), ("orders", "o_orderkey")):
        keys = t[name][key].to_pylist()
        assert len(keys) == 2 * src[name].num_rows == len(set(keys))

    def degrees(col):
        return sorted(collections.Counter(col).values())

    # a seeded relabelling keeps the customer and supplier degrees per copy
    n_ord = src["orders"].num_rows
    assert degrees(t["orders"]["o_custkey"].to_pylist()[:n_ord]) == degrees(
        src["orders"]["o_custkey"].to_pylist()
    )
    n_li = src["lineitem"].num_rows
    assert degrees(t["lineitem"]["l_suppkey"].to_pylist()[n_li:]) == degrees(
        src["lineitem"]["l_suppkey"].to_pylist()
    )


def test_derive_renames_words_consistently_within_a_copy():
    import pyarrow.parquet as pq

    from perfbench import gen

    src = pq.read_table(os.path.join(gen.SOURCE_DIR, "documents.parquet"))["text"].to_pylist()
    out = gen.derive(5, 2, ("documents",))["documents"]["text"].to_pylist()
    for k in range(2):
        mapping: dict[str, str] = {}
        for a, b in zip(src, out[k * len(src) : (k + 1) * len(src)]):
            for wa, wb in zip(a.split(), b.split(), strict=True):
                assert mapping.setdefault(wa, wb) == wb
        assert len(set(mapping.values())) == len(mapping)  # a bijection


def test_fingerprint_uses_the_gate_hash():
    import pandas as pd

    from perfbench import validate
    from tools.driver_check import _hash

    df = pd.DataFrame({"b": [2.0000001, None], "a": ["x", "y"]})
    assert validate.fingerprint(df) == (2, ("a", "b"), _hash(df))
    assert validate.fingerprint(df[::-1]) == validate.fingerprint(df)
