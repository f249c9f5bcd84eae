"""Tests for the benchmark's own code: generators, checks, percentiles
and spans. No Spark session; run with

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import os

import pytest

from perfbench import checks, gen
from perfbench.spans import Tracer
from perfbench.stats import describe, percentile


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_dns_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.generate_dns(str(tmp_path / "a"), 7, 800)
    b = gen.generate_dns(str(tmp_path / "b"), 7, 800)
    c = gen.generate_dns(str(tmp_path / "c"), 8, 800)
    assert _read(a.feed_csv) == _read(b.feed_csv)
    assert _read(a.history_parquet) == _read(b.history_parquet)
    assert a.answers == b.answers and a.routed == b.routed
    assert _read(a.feed_csv) != _read(c.feed_csv)


def test_dns_generator_covers_every_class(tmp_path):
    inp = gen.generate_dns(str(tmp_path), 3, 3000)
    feed = _read(inp.feed_csv).decode().split()
    assert any(d.startswith("*.") for d in feed)
    assert any(d != d.lower() for d in feed)
    assert any(d.startswith("-") or any(len(lb) > 63 for lb in d.split(".")) for d in feed)
    assert any(d.replace(".", "").isdigit() for d in feed)
    assert any(d.startswith("blocked") for d in feed)
    assert any(d.rsplit(".", 1)[-1] in gen.OTHER_TLDS for d in feed)
    assert len(feed) > len(set(d.lower() for d in feed))  # case and exact repeats
    answers = list(inp.answers.values())
    assert None in answers and any(a and a[0] == "CNAME" for a in answers)
    import pyarrow.parquet as pq

    ages = {
        (gen.AS_OF - d).days
        for d in pq.read_table(inp.history_parquet).column("batch_date").to_pylist()
    }
    assert min(ages) <= gen.WINDOW_DAYS < max(ages)
    assert inp.routed["rdnsv4"] == inp.routed["subdomains"] > 0 and inp.routed["cnames"] > 0


def test_rdnsv4_truth_has_one_row_per_routed_name(tmp_path):
    inp = gen.generate_dns(str(tmp_path), 4, 1500)
    assert len(inp.rdnsv4) == inp.routed["rdnsv4"]
    assert all(len(r) == 8 and len(r[0].split(".")) == 4 for r in inp.rdnsv4)


def test_analytics_block_mix(tmp_path):
    from collections import Counter

    from perfbench.workloads import DnsAnalytics

    wl = DnsAnalytics(str(tmp_path), 9)
    kinds = []
    while True:
        kinds.append(wl.next_kind())
        wl.plan.pop()
        if wl.at_boundary():
            break
    n = Counter(kinds)
    assert n["lookup"] >= 1000
    assert sum(v for k, v in n.items() if k not in ("lookup", "scan")) >= 100
    assert n["scan"] == DnsAnalytics.scans_per_block
    # even counts: the traced run traces every other request of each kind
    assert all(v % 2 == 0 for v in n.values()), n


def test_absent_keys_are_never_generated(tmp_path):
    inp = gen.generate_dns(str(tmp_path), 5, 2000)
    assert not set(gen.absent_keys(6, 300)) & set(inp.subdomains)


def test_corpus_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.generate_corpus(str(tmp_path / "a"), 11, 400)
    b = gen.generate_corpus(str(tmp_path / "b"), 11, 400)
    assert _read(a.docs_parquet) == _read(b.docs_parquet)
    assert a.exact_dup_ids == b.exact_dup_ids and a.exact_dup_ids
    assert a.near_dup_ids


def test_routed_counts_and_rows_fail_on_a_dropped_row():
    truth = {"rdnsv4": 3, "subdomains": 3, "cnames": 1}
    assert checks.routed_counts(dict(truth), truth) == []
    assert checks.routed_counts({**truth, "cnames": 0}, truth)
    rows = [("a", 1), ("b", 2), ("b", 2)]
    assert checks.same_rows("t", list(rows), rows) == []
    assert checks.same_rows("t", rows[:-1], rows)
    assert checks.same_rows("t", rows + [("c", 3)], rows)


def _write_sstable(directory: str) -> None:
    from sstable_migrator_spark.sinks.sstable_format import CqlTable, SSTableWriter

    schema = CqlTable(
        keyspace="ks", table="t", columns=[("k", "varchar"), ("v", "bigint")],
        partition_key=["k"],
    )
    w = SSTableWriter(directory, schema, generation=1)
    for i in range(50):
        w.add_row({"k": f"key{i}", "v": i})
    w.close()


def test_sstable_integrity_fails_on_a_flipped_byte(tmp_path):
    directory = tmp_path / "cass_range=0"
    _write_sstable(str(directory))
    assert checks.sstable_integrity(str(tmp_path)) == []
    data = next(p for p in os.listdir(directory) if p.endswith("-Data.db"))
    blob = bytearray(_read(str(directory / data)))
    blob[len(blob) // 2] ^= 0x01
    (directory / data).write_bytes(bytes(blob))
    assert checks.sstable_integrity(str(tmp_path))


def test_sstable_integrity_fails_on_no_sstables(tmp_path):
    assert checks.sstable_integrity(str(tmp_path))


def test_streamed_fails_on_a_missing_or_corrupt_session():
    ok = {"sessions_expected": 2, "ok": 2, "missing": [], "corrupt": []}
    assert checks.streamed(ok) == []
    assert checks.streamed({**ok, "ok": 1, "missing": [(0, "n1")]})
    assert checks.streamed({**ok, "ok": 1, "corrupt": [(0, "n1", "crc")]})


def _partition(clusterings, **cells):
    ts = int(datetime.datetime(2024, 6, 30, tzinfo=datetime.timezone.utc).timestamp() * 1000)
    assert gen.BATCH_TS == "2024-06-30 00:00:00"
    base = {"source": gen.SOURCE, "sourceRecordType": "A", "firstSeen": ts, "lastSeen": ts, "updatedAt": ts}
    return {"rows": [{"clustering": list(c), "cells": {**base, **cells}} for c in clusterings]}


def test_lookup_fails_on_wrong_rows_cells_or_presence():
    key = ("de", "", "apex")
    want = [("a", "", "", ""), ("b", "c", "", "")]
    assert checks.lookup(key, _partition(want), want) == []
    assert checks.lookup(key, _partition(want[:1]), want)
    assert checks.lookup(key, _partition(want, source="other"), want)
    assert checks.lookup(key, _partition(want, lastSeen=0), want)
    assert checks.lookup(key, None, want)
    assert checks.lookup(key, None, None) == []
    assert checks.lookup(key, _partition(want), None)


def test_query_fails_on_order_or_content():
    rows = [("a", 2), ("b", 1)]
    assert checks.query("q", rows, list(rows), ordered=True) == []
    assert checks.query("q", rows[::-1], rows, ordered=True)
    assert checks.query("q", rows[::-1], rows, ordered=False) == []
    assert checks.query("q", rows[:1], rows, ordered=False)


def test_corpus_check_fails_on_each_planted_defect():
    counts = {"input": 10, "quality": 9, "lang": 9, "exact": 8, "near_dup_kept": 7, "chunks": 12}
    args = dict(kept_ids={1, 2, 3}, exact_dup_ids=[9], shard_totals=[100, 90], budget=100, max_chunk=10)
    assert checks.corpus(counts, **args) == []
    assert checks.corpus(counts, **{**args, "kept_ids": {1, 2, 9}})
    assert checks.corpus({**counts, "exact": 10}, **args)
    assert checks.corpus(counts, **{**args, "shard_totals": [100, 111]})


def test_catalog_check_fails_on_changed_or_unstable_counts():
    ref = {"q1": 5, "q2": 7}
    assert checks.catalog({"q1": [5, 5], "q2": [7]}, ref) == []
    assert checks.catalog({"q1": [5, 6]}, ref)
    assert checks.catalog({"q1": [4]}, ref)
    assert checks.catalog({"q9": [1]}, ref)


def test_percentile_is_never_printed_without_its_count():
    values = [float(i) for i in range(1, 101)]
    assert percentile(values, 50) == 50.0 and percentile(values, 99) == 99.0
    line = describe("lookup_ms", values, "ms", (50, 99))
    assert "p50=" in line and "p99=" in line and "(n=100)" in line
    assert "n=0" in describe("lookup_ms", [], "ms")
    with pytest.raises(ValueError):
        percentile([], 50)


def test_disabled_tracer_records_nothing_and_self_time_excludes_children():
    tr = Tracer()
    with tr.span("sinks.streamout.stream_sstables"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("sinks.streamout.stream_sstables"):
        with tr.span("sinks.streamout.verify_streamed"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    totals = tr.harvest()
    stream = totals["sinks.streamout.stream_sstables"]
    assert stream["calls"] == 1
    assert stream["self_s"] == pytest.approx(stream["wall_s"] - (inner.end - inner.start))
    assert tr.top_level_s() == pytest.approx(outer.end - outer.start)
