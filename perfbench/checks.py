"""Output checks. Each returns a list of problems (empty when the output
is right); the expected side always comes from the generator's ground
truth, DuckDB or an earlier run, never from the output being checked.
All of them run outside the timers."""

from __future__ import annotations

import datetime
import os
from collections import Counter

from .gen import BATCH_TS, SOURCE


def routed_counts(got: dict[str, int], truth: dict[str, int]) -> list[str]:
    return [
        f"routed {t}: {got.get(t)} rows, generator expects {n}"
        for t, n in sorted(truth.items())
        if got.get(t) != n
    ]


def sstable_integrity(path: str) -> list[str]:
    """Every sstable under ``path`` re-parses with its index, digest,
    CRCs and bloom filter all green."""
    from sstable_migrator_spark.sinks.sstable_format import read_sstable

    problems = []
    n = 0
    for d in sorted(os.listdir(path)):
        full = os.path.join(path, d)
        if not d.startswith("cass_range=") or not os.path.isdir(full):
            continue
        for f in sorted(os.listdir(full)):
            if not f.endswith("-TOC.txt"):
                continue
            n += 1
            prefix = f[: -len("-TOC.txt")]
            try:
                got = read_sstable(full, prefix=prefix)
            except Exception as e:  # noqa: BLE001 - any parse fault is a defect
                problems.append(f"{full}/{prefix}: unreadable ({e!r})")
                continue
            bad = [k for k in ("index_ok", "digest_ok", "crc_ok", "bloom_all_present") if not got.get(k)]
            if bad:
                problems.append(f"{full}/{prefix}: {', '.join(bad)} false")
    if n == 0:
        problems.append(f"no sstables under {path}")
    return problems


def streamed(audit: dict) -> list[str]:
    problems = []
    if audit["missing"] or audit["corrupt"]:
        problems.append(f"verify_streamed: missing={audit['missing'][:3]} corrupt={audit['corrupt'][:3]}")
    if audit["ok"] != audit["sessions_expected"] or audit["ok"] == 0:
        problems.append(f"verify_streamed: {audit['ok']} of {audit['sessions_expected']} sessions ok")
    return problems


def same_rows(name: str, got: list[tuple], expected: list[tuple]) -> list[str]:
    """Multiset equality, reporting a few rows from each side of the
    difference."""
    g, e = Counter(got), Counter(expected)
    if g == e:
        return []
    extra = list((g - e).elements())[:3]
    missing = list((e - g).elements())[:3]
    return [f"{name}: {len(got)} rows vs {len(expected)} expected; extra {extra}, missing {missing}"]


# point_lookup returns timestamp cells as epoch milliseconds
_TS_MS = int(
    datetime.datetime.fromisoformat(BATCH_TS).replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
)


def lookup(key: tuple, got: dict | None, expected: list[tuple] | None) -> list[str]:
    """A subdomains partition read by point_lookup: absent keys give
    None; present keys give exactly the generator's rows and cells."""
    if expected is None:
        return [] if got is None else [f"lookup {key}: expected no partition, got one"]
    if got is None:
        return [f"lookup {key}: partition missing"]
    rows = sorted(tuple(r["clustering"]) for r in got["rows"])
    if rows != sorted(expected):
        return [f"lookup {key}: clusterings {rows[:3]} vs {sorted(expected)[:3]}"]
    for r in got["rows"]:
        c = r["cells"]
        if c.get("source") != SOURCE or c.get("sourceRecordType") != "A":
            return [f"lookup {key}: cells {c}"]
        if any(c.get(k) != _TS_MS for k in ("firstSeen", "lastSeen", "updatedAt")):
            return [f"lookup {key}: timestamps {c}"]
    return []


def query(name: str, got: list[tuple], expected: list[tuple], ordered: bool) -> list[str]:
    if ordered:
        return [] if got == expected else [f"{name}: {got[:3]} vs DuckDB {expected[:3]}"]
    return same_rows(name, got, expected)


def corpus(
    counts: dict[str, int],
    kept_ids: set[int],
    exact_dup_ids: list[int],
    shard_totals: list[int],
    budget: int,
    max_chunk: int,
) -> list[str]:
    problems = []
    funnel = [counts[k] for k in ("input", "quality", "lang", "exact", "near_dup_kept")]
    if any(a < b for a, b in zip(funnel, funnel[1:])) or counts["chunks"] <= 0:
        problems.append(f"funnel not monotone: {counts}")
    survived = sorted(kept_ids.intersection(exact_dup_ids))
    if survived:
        problems.append(f"{len(survived)} planted exact duplicates kept, e.g. {survived[:5]}")
    over = [t for t in shard_totals if t > budget + max_chunk]
    if over or not shard_totals:
        problems.append(f"shards over budget {budget}+{max_chunk}: {over[:5]} of {len(shard_totals)}")
    return problems


def catalog(rows: dict[str, list[int]], reference: dict[str, int]) -> list[str]:
    """Every run of an entry gave one row count, and it is the one of the
    entry's DuckDB oracle."""
    problems = []
    for name, seen in sorted(rows.items()):
        if len(set(seen)) != 1:
            problems.append(f"{name}: row counts differ between runs {seen}")
        elif name not in reference:
            problems.append(f"{name}: no reference row count")
        elif seen[0] != reference[name]:
            problems.append(f"{name}: {seen[0]} rows, reference {reference[name]}")
    return problems
