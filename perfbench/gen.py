"""Seeded input generators with their ground truth.

Every input the program sees is written here from ``random.Random(seed)``
alone, so the same seed gives byte-identical files. The ground truth is
derived from how each name or document was *built* (its class), never
from the program's output.
"""

from __future__ import annotations

import csv
import datetime
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

AS_OF = datetime.date(2024, 6, 30)
BATCH_TS = "2024-06-30 00:00:00"
SOURCE = "perfbench"
WINDOW_DAYS = 25
ALLOW_TLDS = ("de", "fr", "io", "in", "ru", "ai", "gov")
OTHER_TLDS = ("com", "net", "org")
TLD_SET = ALLOW_TLDS + OTHER_TLDS
BLOCKLIST = ("^blocked[0-9]+\\.",)
CNAME_TARGETS = tuple(f"cdn{i}.edge.example.com" for i in range(8))

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _word(rng: random.Random, lo: int = 5, hi: int = 10) -> str:
    # letters only and at least 5 long: never a member of TLD_SET, so no
    # generated label takes the two-level-TLD branch of domain_parts
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(lo, hi)))


@dataclass
class DnsInputs:
    feed_csv: str
    history_parquet: str
    answers: dict[str, tuple[str, str] | None]
    # ground truth, derived from the generator's classes
    routed: dict[str, int]
    feed_rows: int
    # subdomains partition (p1, p2, p3) -> sorted [(p4, p5, p6, p7)]
    subdomains: dict[tuple[str, str, str], list[tuple[str, str, str, str]]]
    rdnsv4: list[tuple[str, ...]] = field(default_factory=list)  # (ipAddress, p1..p7)
    cnames: list[tuple[str, str]] = field(default_factory=list)  # (target, domain)


def _parts(domain: str) -> tuple[tuple[str, str, str], tuple[str, str, str, str]]:
    """(p1, p2, p3) and (p4..p7) of a generated name: no label is a TLD,
    so p2 is always empty and p3 is the apex label."""
    labels = domain.split(".")
    rev = labels[::-1] + [""] * 6
    return (rev[0], "", rev[1]), (rev[2], rev[3], rev[4], rev[5])


class Resolver:
    """Deterministic answer table standing in for DNS: ``None`` is
    NXDOMAIN, otherwise ``(record_type, value)``."""

    def __init__(self, answers: dict[str, tuple[str, str] | None]):
        self.answers = answers

    def __call__(self, domain: str) -> tuple[str, str] | None:
        return self.answers.get(domain)


def generate_dns(out_dir: str, seed: int, n_feed: int) -> DnsInputs:
    """A domain feed (CSV), a 25-day ``history`` (parquet) and the
    resolver's answer table, with the routed row counts they must yield."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    used: set[str] = set()

    def fresh(depth: int, tld: str) -> str:
        while True:
            apex = apexes[rng.randrange(len(apexes))] if rng.random() < 0.8 else None
            if apex is None or not apex.endswith("." + tld):
                apex = f"{_word(rng)}.{tld}"
            labels = [_word(rng, 3, 8) for _ in range(depth)]
            name = ".".join([*labels, apex])
            if name not in used:
                used.add(name)
                return name

    apexes = [f"{_word(rng)}.{rng.choice(ALLOW_TLDS)}" for _ in range(max(8, n_feed // 12))]
    feed: list[str] = []
    history: list[tuple[str, datetime.date]] = []
    # lowered name -> "valid" | "invalid"; these reach the resolver
    survivors: dict[str, str] = {}
    cleaned: dict[str, str] = {}
    clean_pool: list[str] = []

    def allow_tld() -> str:
        return rng.choice(ALLOW_TLDS)

    while len(feed) < n_feed:
        r = rng.random()
        if r < 0.52:  # clean, allowlisted
            d = fresh(rng.randint(0, 3), allow_tld())
            feed.append(d)
            survivors[d] = "valid"
            clean_pool.append(d)
        elif r < 0.60:  # TLD outside the allowlist
            feed.append(fresh(rng.randint(0, 2), rng.choice(OTHER_TLDS)))
        elif r < 0.64:  # unique mixed-case name
            d = fresh(rng.randint(0, 2), allow_tld())
            feed.append("".join(c.upper() if rng.random() < 0.5 else c for c in d))
            survivors[d] = "valid"
        elif r < 0.68 and clean_pool:  # uppercase copy of a clean name
            feed.append(rng.choice(clean_pool).upper())
        elif r < 0.72 and clean_pool:  # exact repeat of a clean name
            feed.append(rng.choice(clean_pool))
        elif r < 0.76:  # "*."-cleanable wildcard
            d = fresh(rng.randint(0, 2), allow_tld())
            w = "*." + d
            feed.append(w)
            survivors[w] = "valid"
            cleaned[w] = d
        elif r < 0.78:  # invalid: a label over 63 chars
            d = fresh(0, allow_tld())
            long_label = "x" * 64 + _word(rng, 1, 4)
            w = f"{long_label}.{d}"
            used.add(w)
            feed.append(w)
            survivors[w] = "invalid"
        elif r < 0.80:  # invalid: a label with a leading '-'
            d = fresh(0, allow_tld())
            w = f"-{_word(rng, 3, 6)}.{d}"
            used.add(w)
            feed.append(w)
            survivors[w] = "invalid"
        elif r < 0.81:  # invalid: all-numeric (dropped by the allowlist)
            feed.append(".".join(str(rng.randint(0, 999)) for _ in range(rng.randint(2, 4))))
        elif r < 0.84:  # blocklisted
            d = fresh(0, allow_tld())
            w = f"blocked{rng.randint(0, 99999)}.{d}"
            used.add(w)
            feed.append(w)
        elif r < 0.92:  # seen inside the window -> anti-joined away
            d = fresh(rng.randint(0, 2), allow_tld())
            feed.append(d)
            history.append((d, AS_OF - datetime.timedelta(days=rng.randint(1, WINDOW_DAYS))))
            if rng.random() < 0.3:  # also seen long ago: still dropped
                history.append((d, AS_OF - datetime.timedelta(days=rng.randint(WINDOW_DAYS + 1, 60))))
        else:  # seen only outside the window -> survives
            d = fresh(rng.randint(0, 2), allow_tld())
            feed.append(d)
            history.append((d, AS_OF - datetime.timedelta(days=rng.randint(WINDOW_DAYS + 1, 60))))
            survivors[d] = "valid"
    # history rows for names that are not in today's feed
    for _ in range(len(feed) // 10):
        history.append((fresh(1, allow_tld()), AS_OF - datetime.timedelta(days=rng.randint(0, 60))))
    rng.shuffle(history)

    answers: dict[str, tuple[str, str] | None] = {}
    routed = {"rdnsv4": 0, "subdomains": 0, "cnames": 0}
    subdomains: dict[tuple[str, str, str], list[tuple[str, str, str, str]]] = {}
    rdnsv4: list[tuple[str, ...]] = []
    cnames: list[tuple[str, str]] = []
    for name in sorted(survivors):
        r = rng.random()
        if r < 0.06:
            answers[name] = None  # NXDOMAIN
            continue
        if r < 0.16:
            target = rng.choice(CNAME_TARGETS)
            answers[name] = ("CNAME", target)
            if survivors[name] == "valid":
                routed["cnames"] += 1
                cnames.append((target, cleaned.get(name, name)))
            continue
        if r < 0.18:  # unparseable A answer: dropped at routing
            answers[name] = ("A", f"{rng.randint(256, 999)}.{rng.randint(0, 255)}.0.1")
            continue
        octets = [rng.randint(1, 223), rng.randint(0, 255), rng.randint(0, 255), rng.randint(0, 255)]
        answers[name] = ("A", ".".join(map(str, octets)))
        if survivors[name] == "valid":
            routed["rdnsv4"] += 1
            routed["subdomains"] += 1
            key, clus = _parts(cleaned.get(name, name))
            subdomains.setdefault(key, []).append(clus)
            rdnsv4.append((answers[name][1], *key, *clus))
    for rows in subdomains.values():
        rows.sort()

    feed_csv = os.path.join(out_dir, "feed.csv")
    with open(feed_csv, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")
        for d in feed:
            w.writerow([d])
    history_parquet = os.path.join(out_dir, "history.parquet")
    pq.write_table(
        pa.table(
            {
                "domain": pa.array([d for d, _ in history], pa.string()),
                "batch_date": pa.array([t for _, t in history], pa.date32()),
            }
        ),
        history_parquet,
    )
    return DnsInputs(
        feed_csv=feed_csv,
        history_parquet=history_parquet,
        answers=answers,
        routed=routed,
        feed_rows=len(feed),
        subdomains=subdomains,
        rdnsv4=sorted(rdnsv4),
        cnames=sorted(cnames),
    )


def absent_keys(seed: int, n: int) -> list[tuple[str, str, str]]:
    """Subdomains partition keys that no generated name can have (apex
    labels of 11+ letters are never generated)."""
    rng = random.Random(seed)
    return [
        (rng.choice(ALLOW_TLDS), "", _word(rng, 11, 14)) for _ in range(n)
    ]


@dataclass
class CorpusInputs:
    docs_parquet: str
    n_docs: int
    exact_dup_ids: list[int]
    near_dup_ids: list[int]


def generate_corpus(out_dir: str, seed: int, n_docs: int) -> CorpusInputs:
    """Documents reshuffled from the packaged ``documents.parquet``
    vocabulary, with planted exact duplicates (copies of an earlier
    document under a higher id) and near duplicates (one word changed)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(os.path.join(DATA_DIR, "sf0.001", "documents.parquet")).to_pylist()
    base.sort(key=lambda r: r["doc_id"])
    rows: list[dict] = []
    exact: list[int] = []
    near: list[int] = []
    next_id = 1
    while len(rows) < n_docs:
        r = rng.random()
        if rows and r < 0.08:
            src = rows[rng.randrange(len(rows))]
            rows.append({**src, "doc_id": next_id})
            exact.append(next_id)
        elif rows and r < 0.14:
            src = rows[rng.randrange(len(rows))]
            words = src["text"].split()
            words[rng.randrange(len(words))] = _word(rng, 4, 7)
            text = " ".join(words)
            rows.append({**src, "doc_id": next_id, "text": text, "n_chars": len(text)})
            near.append(next_id)
        else:
            src = base[rng.randrange(len(base))]
            words = src["text"].split()
            rng.shuffle(words)
            words = words + [_word(rng, 3, 8) for _ in range(rng.randint(2, 12))]
            text = " ".join(words)
            rows.append(
                {"doc_id": next_id, "text": text, "lang": src["lang"],
                 "source": src["source"], "n_chars": len(text)}
            )
        next_id += 1
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
                "source": pa.array([r["source"] for r in rows], pa.string()),
                "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
            }
        ),
        path,
    )
    return CorpusInputs(path, len(rows), exact, near)
