"""The benchmark's two seeded workloads.

Each workload names how many untimed runs after the cold one warm the
JIT (``warm_runs``), makes its inputs from the seed in :meth:`prepare`,
computes the expected result without the code under test in
:meth:`expect`, runs the program's job once per :meth:`run` into a fresh
output directory, and checks that output in :meth:`check` (a list of
failures; empty = correct).
"""

from __future__ import annotations

import collections
import glob
import hashlib
import os
import random
import struct

import pyarrow.parquet as pq

from archives import write_archives

# warc_cdx: bulk records spread over 16 archives, plus the two
# edge-case archives; the binaryFile scan packs them into 4 tasks
WARC_RECORDS = 12_000
WARC_FILES = 16
# crawl_rounds: webgraph size, seed-set size and checkpointed rounds
CRAWL_PAGES = 20_000
CRAWL_SEED_EVERY = 20
CRAWL_ROUNDS = 1

def _read_lines(paths: list[str]) -> list[str]:
    out: list[str] = []
    for p in sorted(paths):
        with open(p, encoding="utf-8", newline="\n") as f:
            out.extend(f.read().splitlines())
    return out


class WarcCdx:
    """Archive bytes → ``warc_source.read_warc`` →
    ``sink.write_per_file_cdx``: one CDX per archive, file order."""

    name = "warc_cdx"
    # a run takes ~2.3 s once warm; the first four after the cold run
    # are still 10-30% slower
    warm_runs = 4

    def prepare(self, spark, work: str, seed: int) -> None:
        from cdx_writer_spark.pages_gen import bulk_rows, edge_case_rows

        self.spark = spark
        self.in_dir = os.path.join(work, "archives")
        rows = edge_case_rows() + bulk_rows(WARC_RECORDS, seed=seed,
                                            n_files=WARC_FILES)
        self.written = write_archives(rows, self.in_dir)

    def expect(self) -> None:
        from cdx_writer_spark.oracle import oracle_cdx

        lines, self.expected_stats = oracle_cdx(self.written)
        self.expected = collections.defaultdict(list)
        for line in lines:
            self.expected[line.rsplit(" ", 1)[1]].append(line)
        self.triples = {(r["warc_file"], r["offset"], r["compressed_size"])
                        for r in self.written}

    def pages(self):
        from cdx_writer_spark.warc_source import read_warc

        return read_warc(self.spark, self.in_dir)

    def run(self, out: str) -> int:
        from cdx_writer_spark.sink import write_per_file_cdx

        self.stats = write_per_file_cdx(self.pages(), out,
                                        stats_file=out + ".stats.json")
        return self.stats["num_records_included"]

    def check(self, out: str) -> list[str]:
        errors = []
        if self.stats != self.expected_stats:
            errors.append(f"stats {self.stats} != {self.expected_stats}")
        got = {}
        for d in glob.glob(os.path.join(out, "warc_file=*")):
            got[d.split("=", 1)[1]] = _read_lines(
                glob.glob(os.path.join(d, "part-*")))
        if set(got) != set(self.expected):
            errors.append(f"archives {sorted(got)} != "
                          f"{sorted(self.expected)}")
        for name, lines in self.expected.items():
            if got.get(name) != lines:
                errors.append(f"{name}: CDX differs from the oracle")
            for line in got.get(name, []):
                f = line.split(" ")
                if (f[-1], int(f[-2]), int(f[-3])) not in self.triples:
                    errors.append(f"{name}: (file, offset, size) of "
                                  f"{line!r} was never written")
                    break
        return errors


# the synthetic web's link and robots functions, restated from their
# definition (frontier/webgraph.py) so the check does not call them
_SAME_HOST_STRIDE = 37


def _outlinks(d: int, n: int) -> list[int]:
    return [(d * 7 + 1) % n, (d * 13 + 5) % n, (d * 31 + 3) % 97 % n,
            (d + _SAME_HOST_STRIDE) % n]


def _surt(d: int, n_hosts: int) -> str:
    return f"com,example,site{d % n_hosts})/p/{d}"


def _host_idx(host: str) -> int:
    return int(host[len("site"):].split(".", 1)[0])


# Bloom probe positions (frontier/bloom.py): (h1m + i * h2m) % n_bits
# for i < k, after the blob's 4-byte magic and <QII header
_H1_MASK = (1 << 53) - 1
_H2_MASK = (1 << 40) - 1
_BLOOM_HEADER = 4 + struct.calcsize("<QII")


class CrawlRounds:
    """``frontier.loop.run_crawl`` from a fresh state directory over
    ``webgraph.pages`` for CRAWL_ROUNDS checkpointed rounds, uniform
    hosts, default ``CrawlConfig``."""

    name = "crawl_rounds"
    # a run takes ~7 s; a second warm-up run would cost 9 s per process
    # (see README, "End-to-end metrics")
    warm_runs = 1

    def prepare(self, spark, work: str, seed: int) -> None:
        from pyspark.sql import functions as F

        from cdx_writer_spark.frontier import webgraph
        from cdx_writer_spark.frontier.loop import CrawlConfig

        self.spark = spark
        self.cfg = CrawlConfig()
        self.n_hosts = max(37, CRAWL_PAGES // 50)
        self.web = webgraph.pages(spark, CRAWL_PAGES, n_partitions=4,
                                  n_hosts=self.n_hosts)
        self.rules = webgraph.robots_rules(spark, self.n_hosts)
        # seed set: a seeded sample of 1 page in CRAWL_SEED_EVERY; a
        # fixed count keeps the crawl's size alike across seeds
        self.seed_ids = sorted(random.Random(seed).sample(
            range(CRAWL_PAGES), CRAWL_PAGES // CRAWL_SEED_EVERY))
        d, h = F.col("id"), self.n_hosts
        ids = spark.range(0, CRAWL_PAGES, 1, 4).filter(d.isin(self.seed_ids))
        self.seeds = ids.select(
            webgraph.surt_col(d, h).alias("surt_key"),
            webgraph.url_col(d, h).alias("url"),
            webgraph.host_col(d, h).alias("host"),
            webgraph.host_rank_col(d, h).alias("host_rank"),
            F.lit(0).alias("depth"),
            F.lit(0).alias("discovered_round"),
            F.lit("pending").alias("state"))
        self.digest = None

    def expect(self) -> None:
        pass

    def run(self, out: str) -> int:
        from cdx_writer_spark.frontier.loop import run_crawl

        self.summaries = run_crawl(self.spark, self.web, out, CRAWL_ROUNDS,
                                   seeds=self.seeds, rules=self.rules,
                                   cfg=self.cfg)
        return sum(s["scheduled"] for s in self.summaries)

    def _rows(self, out: str, sub: str) -> list[dict]:
        files = glob.glob(os.path.join(out, "round_*", sub, "*.parquet"))
        return [r for f in sorted(files)
                for r in pq.read_table(f).to_pylist()]

    def _hashes(self, keys: set) -> list[tuple]:
        """(pid, h1, h2) per key, as ``seen.with_hash_cols`` defines
        them, computed by Spark's own xxhash64; cached per key set."""
        from pyspark.sql import functions as F

        if getattr(self, "_hashed", (None,))[0] != keys:
            k = F.col("surt_key")
            rows = self.spark.createDataFrame(
                [(x,) for x in sorted(keys)], "surt_key string").select(
                F.pmod(F.xxhash64(k), F.lit(self.cfg.n_partitions)),
                F.xxhash64(k), F.xxhash64(F.lit("b"), k)).collect()
            self._hashed = (set(keys), [tuple(r) for r in rows])
        return self._hashed[1]

    def _check_filters(self, out: str, seen: set) -> list[str]:
        """The last round's committed Bloom filters hold every seen key:
        their item counts sum to the seen set, each blob carries the
        same bits as its word array, and every key probes maybe-present
        (the probe of ``bloom.BloomFilter`` restated, over the words
        the native probe reads)."""
        rows = pq.read_table(os.path.join(
            out, f"round_{CRAWL_ROUNDS:05d}", "filters")).to_pylist()
        errors = []
        if sum(r["n_items"] for r in rows) != len(seen):
            errors.append("filter item counts != the seen set's size")
        by_pid = {r["partition_id"]: r for r in rows}
        for r in rows:
            bits = r["filter_blob"][_BLOOM_HEADER:]
            bits += bytes(-len(bits) % 8)
            if bits != struct.pack(f"<{len(r['bits_longs'])}q",
                                   *r["bits_longs"]):
                errors.append(f"filter {r['partition_id']}: blob bits "
                              "!= its word array")
                break
        for pid, h1, h2 in self._hashes(seen):
            f = by_pid.get(pid)
            if f is None:
                errors.append(f"no filter for partition {pid}")
                break
            h1m, h2m = h1 & _H1_MASK, (h2 & _H2_MASK) | 1
            words, n_bits = f["bits_longs"], f["n_bits"]
            if not all(words[p >> 6] >> (p & 63) & 1
                       for p in ((h1m + i * h2m) % n_bits
                                 for i in range(f["k"]))):
                errors.append("a seen key is missing from the filters")
                break
        return errors

    def check(self, out: str) -> list[str]:
        errors = []
        sched = [r for r in self._rows(out, "scheduled") if r["round"] >= 1]
        keys = [r["surt_key"] for r in sched]
        if len(keys) != len(set(keys)):
            errors.append("a surt_key was scheduled twice")
        if len(keys) != sum(s["scheduled"] for s in self.summaries):
            errors.append("scheduled rows != the rounds' summaries")
        per_host = collections.Counter((r["round"], r["host"]) for r in sched)
        for (rnd, host), n in per_host.items():
            if n > (2 if _host_idx(host) % 7 == 0 else 8):
                errors.append(f"{host} over its budget in round {rnd}")
                break
        for r in sched:
            path = r["url"].split("/", 3)[3]   # http://host/<path>
            if _host_idx(r["host"]) % 5 == 0 and path.startswith("p/1"):
                errors.append(f"disallowed {r['url']} scheduled")
                break
        expected_seen = {_surt(d, self.n_hosts) for d in self.seed_ids}
        for r in sched:
            if r["depth"] + 1 <= self.cfg.max_depth:
                d = int(r["surt_key"].rsplit("/", 1)[1])
                expected_seen.update(_surt(o, self.n_hosts)
                                     for o in _outlinks(d, CRAWL_PAGES))
        seen = [r["surt_key"] for r in self._rows(out, "seen")]
        if len(seen) != len(set(seen)) or set(seen) != expected_seen:
            errors.append("URL-seen set != seeds + outlinks of scheduled")
        errors += self._check_filters(out, expected_seen)
        order = sorted((r["round"], r["host"], r["depth"], r["surt_key"])
                       for r in sched)
        digest = hashlib.sha256("\n".join(
            f"{a} {b} {c} {d}" for a, b, c, d in order).encode()).hexdigest()
        if self.digest is None:
            self.digest = digest
        elif digest != self.digest:
            errors.append("crawl-order SHA-256 differs between runs")
        return errors


WORKLOADS = {w.name: w for w in (WarcCdx, CrawlRounds)}
