import hhek2sqlite_spark.plans.reference as reference
from hhek2sqlite_spark.sources import jet2_index, parquet
from perfbench.layers import Tracer


def test_install_reaches_by_name_imports_and_uninstall_restores():
    original = parquet.load_table
    tracer = Tracer()
    tracer.install()
    try:
        assert parquet.load_table is not original
        assert reference.load_table is parquet.load_table
        assert parquet.load_table.__wrapped__ is original
    finally:
        tracer.uninstall()
    assert parquet.load_table is original and reference.load_table is original


def test_module_self_time_counts_each_call_once():
    tracer = Tracer()
    tracer.install()
    try:
        for _ in range(200):
            jet2_index.encode_key("text", "räksmörgås")
    finally:
        tracer.uninstall()
    outer = tracer.inclusive["sources.jet2_index.encode_key"]
    inner = tracer.inclusive["sources.jet2_index.text_sortkey"]
    assert tracer.calls["sources.jet2_index.encode_key"] == 200
    assert tracer.calls["sources.jet2_index.text_sortkey"] == 200
    assert 0 < inner < outer
    assert abs(tracer.self_time["sources.jet2_index"] - outer) < 1e-9
