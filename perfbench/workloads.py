"""The four workloads. Each one generates its inputs from the seed
(untimed), builds what its reads need (``setup``, timed as set-up), runs
one operation per ``op`` call (the timed phase calls it in a closed loop)
and checks its outputs afterwards (``check``, untimed).

Every call into a layer's public function goes through ``tr.span`` with
the layer's module path as the span name.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import time

from . import checks, gen
from .stats import describe

RING_NODES = ["n1", "n2", "n3", "n4"]
VNODES = 2
RF = 3
KEYSPACE = "perfbench"
PK = {
    "rdnsv4": (["ip8"], ["ip16", "ip24", "ipAddress"] + [f"p{i}" for i in range(1, 8)]),
    "subdomains": (["p1", "p2", "p3"], [f"p{i}" for i in range(4, 8)]),
    "cnames": (["target"], ["apexDomain", "domain"]),
}
P_COLS = [f"p{i}" for i in range(1, 8)]


def ip8_of(ip: str) -> str:
    """The ``ip8`` partition key of an IPv4 address: its /8 block."""
    return ip.split(".", 1)[0] + ".0.0.0"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class DnsLoad:
    """The nightly DAG from the feed to verified SSTables on the ring:
    the calls ``bulk_load_job`` composes, one table at a time."""

    def __init__(self, spark, inputs: gen.DnsInputs):
        from sstable_migrator_spark.sinks.ring import build_ring
        from sstable_migrator_spark.sources import dims

        self.inputs = inputs
        self.ring = build_ring(RING_NODES, vnodes_per_node=VNODES)
        self.city = dims.synthetic_geoip_city(spark)
        self.asn = dims.synthetic_geoip_asn(spark)

    def run(self, spark, tr, out: str) -> dict:
        from sstable_migrator_spark.operators.resolve import resolve_domains
        from sstable_migrator_spark.pipelines.daily import (
            DEFAULT_ALLOWLIST_RE,
            daily_prepare_job,
            daily_upload_job,
        )
        from sstable_migrator_spark.sinks.ring import write_sstables
        from sstable_migrator_spark.sinks.streamout import (
            SSTableReceiver,
            stream_sstables,
            verify_streamed,
        )
        from sstable_migrator_spark.sources.readers import read_subdomain_list

        inp = self.inputs
        with tr.span("sources.readers.read_subdomain_list"):
            feed = read_subdomain_list(spark, inp.feed_csv)
        history = spark.read.parquet(inp.history_parquet)
        with tr.span("pipelines.daily.daily_prepare_job"):
            prepared = daily_prepare_job(
                feed, history, allowlist_re=DEFAULT_ALLOWLIST_RE,
                blocklist_patterns=gen.BLOCKLIST, as_of=gen.AS_OF.isoformat(),
                window_days=gen.WINDOW_DAYS,
            )
        with tr.span("operators.resolve.resolve_domains"):
            resolved = resolve_domains(prepared, resolver=gen.Resolver(inp.answers))
        export = os.path.join(out, "export")
        with tr.span("pipelines.daily.daily_upload_job"):
            daily_upload_job(
                resolved, self.city, self.asn, out_dir=export,
                tld_set=gen.TLD_SET, source=gen.SOURCE, batch_ts=gen.BATCH_TS,
            )
        result = {"export": export, "staging": {}, "audit": {}, "sessions": []}
        receiver = SSTableReceiver(os.path.join(out, "landed"))
        try:
            for table, (part, clus) in PK.items():
                staging = os.path.join(out, "sstables", table)
                with tr.span("sinks.ring.write_sstables"):
                    write_sstables(
                        spark.read.parquet(os.path.join(export, table)), staging,
                        keyspace=KEYSPACE, table=table, partition_key=part,
                        clustering=clus, ring=self.ring, rf=RF,
                    )
                result["staging"][table] = staging
                with tr.span("sinks.streamout.stream_sstables"):
                    sessions = stream_sstables(
                        staging, lambda ep: ("127.0.0.1", receiver.port), max_workers=4
                    )
                with tr.span("sinks.streamout.verify_streamed"):
                    audit = verify_streamed(os.path.join(out, "landed"), staging)
                result["audit"][table] = audit
                result["sessions"].extend(sessions)
        finally:
            receiver.close()
        return result

    def check(self, spark, result: dict) -> list[str]:
        from sstable_migrator_spark.sources.sstable_source import read_sstables

        truth = self.inputs
        problems = []
        got = {t: spark.read.parquet(os.path.join(result["export"], t)).count() for t in PK}
        problems += checks.routed_counts(got, truth.routed)
        for table, staging in result["staging"].items():
            problems += checks.sstable_integrity(staging)
        for audit in result["audit"].values():
            problems += checks.streamed(audit)
        expected = {
            "rdnsv4": (["ip8", "ipAddress"] + P_COLS, [(ip8_of(r[0]), *r) for r in truth.rdnsv4]),
            "subdomains": (P_COLS, [k + c for k, rows in truth.subdomains.items() for c in rows]),
            "cnames": (["target", "domain"], truth.cnames),
        }
        for table, staging in result["staging"].items():
            back = read_sstables(spark, staging, partition_key=PK[table][0], clustering=PK[table][1])
            cols, want = expected[table]
            got = [tuple(r) for r in back.select(*cols).collect()]
            problems += checks.same_rows(f"{table} sstables", got, want)
        return problems

    def detail(self, result: dict) -> list[str]:
        c = self.counts(result)
        routed = sum(self.inputs.routed.values())
        return [
            f"feed_rows: {self.inputs.feed_rows} count",
            f"routed_rows: {routed} count ({self.inputs.routed})",
            f"bytes_stored_per_row: {c['sinks.ring.bytes'] / routed:.2f} B",
            f"stream_bytes: {c['sinks.streamout.bytes']} B over {c['sinks.streamout.sessions']} sessions",
        ]

    def counts(self, result: dict) -> dict[str, float]:
        manifests = 0
        for staging in result["staging"].values():
            with open(os.path.join(staging, "_sstable_manifests.json")) as fh:
                manifests += len(json.load(fh))
        routed = self.inputs.routed
        return {
            "sinks.ring.sstables": manifests,
            "sinks.ring.bytes": sum(_dir_bytes(s) for s in result["staging"].values()),
            "sinks.streamout.sessions": len(result["sessions"]),
            "sinks.streamout.bytes": sum(s["bytes"] for s in result["sessions"]),
            "pipelines.daily.survivor_ratio": (routed["rdnsv4"] + routed["cnames"]) / self.inputs.feed_rows,
        }


class DnsDaily:
    """The nightly DAG, once per operation."""

    name = "dns_daily"
    unit = "feed domains"
    n_feed = 4000

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inputs = gen.generate_dns(os.path.join(work, "inputs"), seed, self.n_feed)
        self.passes = 0
        self.result: dict | None = None

    def setup(self, spark, tr) -> None:
        self.load = DnsLoad(spark, self.inputs)

    def op(self, spark, tr) -> int:
        self.passes += 1
        self.result = self.load.run(spark, tr, os.path.join(self.work, f"pass{self.passes}"))
        return self.inputs.feed_rows

    def next_kind(self) -> str:
        return self.name

    def at_boundary(self) -> bool:
        """A block is two passes, so that a traced run traces one."""
        return self.passes % 2 == 0

    def check(self, spark) -> list[str]:
        return self.load.check(spark, self.result)

    def counts(self) -> dict[str, float]:
        return self.load.counts(self.result)

    def detail(self) -> list[str]:
        return self.load.detail(self.result)


class DnsAnalytics:
    """Set-up runs the nightly DAG once (the write path, in a fresh
    session as a nightly job does); the operations are reads over what it
    stored: point lookups on the subdomains SSTables, ClickHouse/CQL-shaped
    queries on the parquet export and full SSTable scans, one request at
    a time.

    A block holds at least 1,000 lookups and 100 queries, so their
    percentiles rest on that many samples, and enough scans that each of
    the three request classes takes a quarter to a half of the block's
    time: a change in the cost of any one of them moves the block's
    throughput and CPU time by at least a quarter of that change."""

    name = "dns_analytics"
    unit = "requests"
    n_feed = 4000
    lookups_per_round = 40
    rounds_per_block = 26
    scans_per_block = 6

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inputs = gen.generate_dns(os.path.join(work, "inputs"), seed, self.n_feed)
        self.rng = random.Random(seed + 1)
        self.keys = sorted(self.inputs.subdomains) + gen.absent_keys(seed + 2, 200)
        self.cnames = [d for _, d in self.inputs.cnames]
        self.ip8 = sorted({ip8_of(r[0]) for r in self.inputs.rdnsv4})
        self.plan: list[tuple] = []
        self.lat: dict[str, list[float]] = {"lookup": [], "query": [], "scan": []}
        self.looked: list[tuple] = []
        self.scanned: list[int] = []
        self.asked: list[tuple] = []

    def setup(self, spark, tr) -> None:
        self.load = DnsLoad(spark, self.inputs)
        self.store = self.load.run(spark, tr, os.path.join(self.work, "store"))
        export = self.store["export"]
        self.tables = {t: spark.read.parquet(os.path.join(export, t)) for t in PK}
        self.tokens = [t for t, _ in sorted(self.load.ring)]
        # warm-up: two rounds and a scan, so that the timed blocks are alike
        self.plan = self._block(rounds=2, scans=1)
        while self.plan:
            self.op(spark, tr)
        for samples in self.lat.values():
            samples.clear()

    def _block(self, rounds: int, scans: int) -> list[tuple]:
        """Requests of the seeded mix, in reverse order: ``rounds`` rounds
        of lookups (present and absent keys) and one query of each shape,
        with ``scans`` full scans spread evenly between the rounds; the
        seed picks the keys and query parameters."""
        rng = self.rng
        block: list[tuple] = []
        for r in range(rounds):
            block += [("lookup", rng.choice(self.keys)) for _ in range(self.lookups_per_round)]
            block += [
                ("group_count_topk", tuple(rng.choice([["ip8"], ["p1"], ["p1", "p3"]])), rng.randint(5, 40)),
                ("per_partition_limit", rng.choice(gen.ALLOW_TLDS), rng.randint(1, 3)),
                ("keyset_page", rng.choice(self.cnames), rng.randint(20, 100)),
                ("prefix_lookup", rng.choice(self.ip8)),
            ]
            if (r + 1) * scans // rounds > r * scans // rounds:
                block.append(("scan",))
        return block[::-1]

    def next_kind(self) -> str:
        if not self.plan:
            self.plan = self._block(self.rounds_per_block, self.scans_per_block)
        return self.plan[-1][0]

    def at_boundary(self) -> bool:
        """A whole block is done: every run measures the same mix."""
        return not self.plan

    def _range_dir(self, key: tuple) -> str:
        from sstable_migrator_spark.functions.cassandra import cassandra_token

        rid = bisect.bisect_left(self.tokens, cassandra_token(*key)) % len(self.tokens)
        return os.path.join(self.store["staging"]["subdomains"], f"cass_range={rid}")

    def _query(self, req: tuple):
        from pyspark.sql import functions as F

        from sstable_migrator_spark.operators import analytics

        kind = req[0]
        if kind == "group_count_topk":
            return analytics.group_count_topk(self.tables["rdnsv4"], list(req[1]), k=req[2])
        if kind == "per_partition_limit":
            sub = self.tables["subdomains"].filter(F.col("p1") == req[1])
            return analytics.per_partition_limit(
                sub, ["p1", "p2", "p3"], [F.col(c).asc() for c in P_COLS[3:]], n=req[2]
            ).select(*P_COLS)
        if kind == "keyset_page":
            return analytics.keyset_page(self.tables["cnames"], "domain", req[1], req[2]).select("domain", "target")
        return analytics.prefix_lookup(self.tables["rdnsv4"], ip8=req[1]).select("ipAddress", *P_COLS)

    def op(self, spark, tr) -> int:
        from sstable_migrator_spark.sinks.sstable_format import point_lookup
        from sstable_migrator_spark.sources.sstable_source import read_sstables

        self.next_kind()
        req = self.plan.pop()
        kind = req[0]
        t0 = time.perf_counter()
        if kind == "lookup":
            key = req[1]
            directory = self._range_dir(key)
            with tr.span("sinks.sstable_format.point_lookup"):
                got = point_lookup(directory, list(key)) if os.path.isdir(directory) else None
            self.lat["lookup"].append(time.perf_counter() - t0)
            self.looked.append((key, got))
        elif kind == "scan":
            part, clus = PK["subdomains"]
            with tr.span("sources.sstable_source.read_sstables"):
                n = read_sstables(
                    spark, self.store["staging"]["subdomains"], partition_key=part, clustering=clus
                ).count()
            self.lat["scan"].append(time.perf_counter() - t0)
            self.scanned.append(n)
        else:
            with tr.span(f"operators.analytics.{kind}"):
                rows = [tuple(r) for r in self._query(req).collect()]
            self.lat["query"].append(time.perf_counter() - t0)
            self.asked.append((req, rows))
        return 1

    def _duck_sql(self, req: tuple) -> tuple[str, bool]:
        export = self.store["export"]

        def src(t: str) -> str:
            return f"read_parquet('{os.path.join(export, t)}/*.parquet')"

        kind = req[0]
        if kind == "group_count_topk":
            cols = ", ".join(req[1])
            return (
                f"SELECT {cols}, count(*) FROM {src('rdnsv4')} GROUP BY {cols} "
                f"ORDER BY count(*) DESC, {cols} LIMIT {req[2]}",
                True,
            )
        if kind == "per_partition_limit":
            return (
                f"SELECT {', '.join(P_COLS)} FROM {src('subdomains')} WHERE p1 = '{req[1]}' "
                f"QUALIFY row_number() OVER (PARTITION BY p1, p2, p3 ORDER BY p4, p5, p6, p7) <= {req[2]}",
                False,
            )
        if kind == "keyset_page":
            return (
                f"SELECT domain, target FROM {src('cnames')} WHERE domain > '{req[1]}' "
                f"ORDER BY domain LIMIT {req[2]}",
                True,
            )
        return f"SELECT ipAddress, {', '.join(P_COLS)} FROM {src('rdnsv4')} WHERE ip8 = '{req[1]}'", False

    def check(self, spark) -> list[str]:
        import duckdb

        problems = self.load.check(spark, self.store)
        for key, got in self.looked:
            problems += checks.lookup(key, got, self.inputs.subdomains.get(key))
        oracle: dict[tuple, list[tuple]] = {}
        con = duckdb.connect()
        try:
            for req, rows in self.asked:
                sql, ordered = self._duck_sql(req)
                if req not in oracle:
                    oracle[req] = [tuple(r) for r in con.execute(sql).fetchall()]
                problems += checks.query(f"{req}", rows, oracle[req], ordered)
        finally:
            con.close()
        want = sum(len(v) for v in self.inputs.subdomains.values())
        problems += [f"scan read {n} rows, expected {want}" for n in self.scanned if n != want]
        return problems

    def counts(self) -> dict[str, float]:
        return self.load.counts(self.store)

    def detail(self) -> list[str]:
        ms = {k: [v * 1e3 for v in vs] for k, vs in self.lat.items()}
        return self.load.detail(self.store) + [
            describe("lookup_ms", ms["lookup"], "ms", (50, 99)),
            describe("query_ms", ms["query"], "ms", (50, 90)),
            describe("scan_s", self.lat["scan"], "s", (50,)),
        ]


class CorpusCuration:
    """build_training_corpus on a seeded corpus with planted duplicates."""

    name = "corpus_curation"
    unit = "documents"
    n_docs = 2000
    shard_tokens = 2000

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inputs = gen.generate_corpus(os.path.join(work, "inputs"), seed, self.n_docs)
        self.runs = 0
        self.funnels: list[dict[str, int]] = []

    def setup(self, spark, tr) -> None:
        pass

    def op(self, spark, tr) -> int:
        from sstable_migrator_spark.pipelines.corpus import build_training_corpus

        self.runs += 1
        self.out = os.path.join(self.work, f"shards{self.runs}")
        docs = spark.read.parquet(self.inputs.docs_parquet)
        with tr.span("pipelines.corpus.build_training_corpus"):
            counts = build_training_corpus(docs, self.out, shard_tokens=self.shard_tokens)
        self.funnels.append(counts)
        return self.inputs.n_docs

    def next_kind(self) -> str:
        return self.name

    def at_boundary(self) -> bool:
        """A block is two calls, so that a traced run traces one."""
        return self.runs % 2 == 0

    def check(self, spark) -> list[str]:
        from pyspark.sql import functions as F

        shards = spark.read.parquet(self.out)
        kept = {r[0] for r in shards.select("doc_id").distinct().collect()}
        totals = [r[0] for r in shards.groupBy("shard_id").agg(F.sum("n_tok")).collect()]
        max_chunk = shards.agg(F.max("n_tok")).first()[0] or 0
        problems = checks.corpus(
            self.funnels[-1], kept, self.inputs.exact_dup_ids, totals, self.shard_tokens, max_chunk
        )
        if any(f != self.funnels[0] for f in self.funnels):
            problems.append(f"funnel counts differ between runs: {self.funnels}")
        return problems

    def counts(self) -> dict[str, float]:
        f = self.funnels[-1]
        return {f"pipelines.corpus.{k}": f[k] for k in ("input", "quality", "lang", "exact", "near_dup_kept", "chunks")}

    def detail(self) -> list[str]:
        return [f"funnel: {self.funnels[-1]} count", f"planted exact duplicates: {len(self.inputs.exact_dup_ids)} count"]


class Catalog:
    """A fixed slice of the query catalog (every ``stride``-th entry by
    name) on the packaged sf0.001 tables:
    construction (``fn(spark, sf_dir)``, with its eager jobs) timed apart
    from execution (the noop write). Inputs are fixed; the seed is unused."""

    name = "catalog"
    unit = "entries"
    sf_dir = os.path.join(gen.DATA_DIR, "sf0.001")
    stride = 48
    passes_per_block = 12
    # the JVM keeps compiling hot code (C2) for about ten passes; the CPU
    # time per pass falls by a third over them, so they are set-up
    compile_passes = 10

    def __init__(self, work: str, seed: int):
        from sstable_migrator_spark.queries import QUERIES

        # q00_flagship_ingest memoizes its plan per session, so only its
        # first build would be measured; it stays out of the slice
        self.entries = QUERIES
        self.names = sorted(QUERIES)[:: self.stride]
        self.next = 0
        self.rows: dict[str, list[int]] = {}
        self.build_s: list[float] = []
        self.exec_s: list[float] = []

    def setup(self, spark, tr) -> None:
        for _ in range(self.compile_passes):
            for name in self.names:
                self._run(spark, tr, name)
        self.build_s.clear()
        self.exec_s.clear()

    def _run(self, spark, tr, name: str) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        with tr.span("queries.build"):
            df = self.entries[name](spark, self.sf_dir)
        t1 = time.perf_counter()
        obs = Observation()
        with tr.span("queries.exec"):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.build_s.append(t1 - t0)
        self.exec_s.append(t2 - t1)
        self.rows.setdefault(name, []).append(obs.get["n"])

    def next_kind(self) -> str:
        return self.names[self.next % len(self.names)]

    def op(self, spark, tr) -> int:
        name = self.next_kind()
        self.next += 1
        self._run(spark, tr, name)
        return 1

    def at_boundary(self) -> bool:
        """A block of whole passes over the slice is done."""
        return self.next % (len(self.names) * self.passes_per_block) == 0

    def check(self, spark) -> list[str]:
        """Each entry's row counts against its DuckDB oracle over the same
        tables."""
        import duckdb

        from sstable_migrator_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                con.execute(
                    f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{os.path.join(self.sf_dir, f)}'"
                )
            reference = {name: len(con.execute(ORACLES[name]).fetchall()) for name in self.names}
        finally:
            con.close()
        return checks.catalog(self.rows, reference)

    def counts(self) -> dict[str, float]:
        return {}

    def detail(self) -> list[str]:
        return [
            f"entries: {len(self.names)} of {len(self.entries)} count",
            describe("build_ms", [v * 1e3 for v in self.build_s], "ms", (50, 90)),
            describe("exec_ms", [v * 1e3 for v in self.exec_s], "ms", (50, 90)),
        ]


WORKLOADS = {w.name: w for w in (DnsDaily, DnsAnalytics, CorpusCuration, Catalog)}
