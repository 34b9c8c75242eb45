"""The benchmark's workloads: seeded inputs, one iteration through the
engine's public entry points, and a check against an independent
reference.

* ``fetch-crawl`` — the hand-built fixture site plus seeded leaf pages,
  served by a loopback server process with injected latency, crawled
  through ``cli.main(--http --store -e json)`` at the default level.
  Reference: ``oracle.photon_oracle.crawl`` on the same bodies.
* ``frontier-wave`` — a seeded Zipf-skewed wave against a seen set four
  times its size: ``canonicalize_urls → dedup_candidates →
  schedule_wave → count``. Reference: a DuckDB query over the same
  generated rows.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

from perfbench.site_server import PLACEHOLDER, rewrite

HERE = os.path.dirname(os.path.abspath(__file__))

# ---------------------------------------------------------------------------
# fetch-crawl

N_LEAVES = 50


def crawl_site(seed: int) -> dict[str, str]:
    """The fixture site under PLACEHOLDER plus N_LEAVES seeded leaf
    pages linked from the root, one anchor per line. Each leaf carries
    an e-mail (intel) and an external link."""
    from fixtures.gen import ROOT, page_bodies

    rng = random.Random(seed)
    token = f"{rng.getrandbits(32):08x}"
    site = {
        url.replace(ROOT, PLACEHOLDER, 1): body.replace(ROOT, PLACEHOLDER)
        for url, body in page_bodies().items()
    }
    leaves = [f"/s/{token}-{rng.getrandbits(24):06x}-{i}.html" for i in range(N_LEAVES)]
    anchors = "".join(f'<a href="{p}">leaf</a>\n' for p in leaves)
    site[PLACEHOLDER] = site[PLACEHOLDER].replace("</body>", anchors + "</body>", 1)
    for i, path in enumerate(leaves):
        site[PLACEHOLDER + path] = (
            "<html><body>\n"
            f"<p>leaf {i} of {token}</p>\n"
            f'<a href="http://x{rng.randrange(50)}.{token}.test/">out</a>\n'
            f"<p>contact op{rng.randrange(10**6)}@{token}.test</p>\n"
            "</body></html>\n"
        )
    return site


class FetchCrawl:
    name = "fetch-crawl"
    item = "pages"
    nominal_s = 18.0  # a warm iteration on 4 cores

    def __init__(self, spark, seed: int, work: str):
        from oracle.photon_oracle import crawl as oracle_crawl

        self.spark = spark
        self.work = work
        site = crawl_site(seed)
        site_path = os.path.join(work, "site.json")
        with open(site_path, "w", encoding="utf-8") as f:
            json.dump(site, f)
        self.log_path = os.path.join(work, "requests.jsonl")
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "site_server.py"),
             "--site", site_path, "--log", self.log_path],
            stdout=subprocess.PIPE, text=True,
        )
        self.root = self.server.stdout.readline().strip()
        if not self.root.startswith("http://127.0.0.1:"):
            raise RuntimeError("site server did not start")
        bodies = rewrite(site, self.root)
        # HTTP serves the empty path and '/' alike; give the oracle's
        # exact-string network the same alias the wire has
        bodies[self.root + "/"] = bodies[self.root]
        self.status = {self._path(u): 200 for u in bodies}
        t0 = time.perf_counter()
        ref = oracle_crawl(bodies, self.root, crawl_level=2)
        self.reference_s = time.perf_counter() - t0
        self.want = {k: set(v) for k, v in ref.datasets.items()}
        self.expected = sorted(u for u in ref.processed if u != "dummy")
        # throughput counts pages; a page the server did not answer as
        # served is a failed operation
        self.items = self.ops = len(self.expected)
        # the pages table holds only the zap stage's inputs; every other
        # page comes over the wire. Written with pyarrow, so no Spark
        # job runs before the first iteration.
        import pyarrow as pa
        import pyarrow.parquet as pq

        zap = [self.root + "/robots.txt", self.root + "/sitemap.xml"]
        span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                          ("media_ref", pa.string()), ("offset", pa.int32())])
        table = pa.table({
            "doc_id": pa.array(zap, pa.string()),
            "spans": pa.array(
                [[{"kind": "text", "text": bodies[u], "media_ref": "", "offset": 0}]
                 for u in zap],
                pa.list_(span),
            ),
        })
        self.pages = os.path.join(work, "zap.parquet")
        pq.write_table(table, self.pages)
        self.store = os.path.join(work, "store")
        self.log_offset = 0
        self.requests: dict[int, list[dict]] = {}

    def _path(self, url: str) -> str:
        return url[len(self.root):] or "/"

    def run(self, it: int) -> None:
        from photon_spark import cli

        self.out = os.path.join(self.work, f"out{it}")
        self._read_log()  # requests before this iteration are not its own
        rc = cli.main(
            ["-u", self.root, "--pages", self.pages, "--http", "--store",
             self.store, "-e", "json", "-o", self.out],
            spark=self.spark,
        )
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")

    def reset(self) -> None:
        """Drop what the crawl left persisted: its frames would answer
        the next iteration's identical plans from cache, while the CLI
        pays the full cost in every process."""
        self.spark.catalog.clearCache()

    def check(self, it: int) -> tuple[bool, int]:
        """(outputs match the oracle, pages not answered as served)."""
        # write_txt's format: one file per non-empty dataset, sorted
        # values joined by newlines (values may hold newlines themselves)
        want_txt = {
            name: "\n".join(sorted(vals)) + "\n"
            for name, vals in self.want.items() if vals
        }
        got_txt = {}
        for name in self.want:
            path = os.path.join(self.out, f"{name}.txt")
            if os.path.exists(path):
                with open(path, encoding="utf-8") as f:
                    got_txt[name] = f.read()
        with open(os.path.join(self.out, "exported.json"), encoding="utf-8") as f:
            exported = {k: set(v) for k, v in json.load(f).items()}
        ok = got_txt == want_txt and exported == self.want
        for name in sorted(self.want):
            have = exported.get(name, set())
            if have != self.want[name] or got_txt.get(name) != want_txt.get(name):
                print(f"{name}: missing {sorted(self.want[name] - have)[:3]}"
                      f" extra {sorted(have - self.want[name])[:3]}", file=sys.stderr)
        reqs = self.requests[it] = self._read_log()
        answered = {(r["path"], r["status"]) for r in reqs}
        unanswered = [
            u for u in self.expected
            if (self._path(u), self.status.get(self._path(u), 404)) not in answered
        ]
        if unanswered:
            print(f"not answered as served: {unanswered[:5]}", file=sys.stderr)
        return ok, len(unanswered)

    def _read_log(self) -> list[dict]:
        """Server log records appended since the last call."""
        with open(self.log_path, "rb") as f:
            f.seek(self.log_offset)
            data = f.read()
        end = data.rfind(b"\n") + 1  # a line still being written waits
        self.log_offset += end
        return [json.loads(line) for line in data[:end].splitlines()]

    def close(self) -> None:
        if self.server.poll() is None:
            self.server.terminate()
        self.server.wait(timeout=30)


# ---------------------------------------------------------------------------
# frontier-wave

WAVE_URLS = 100_000
N_HOSTS = 1000
HOST_BUDGET = 1000
OWN_SEEN = 0.3       # share of the wave already seen
HISTORY = 3.7        # history URLs per wave URL (seen = 4x the wave)

# Zipf-ish host rank from a seeded hash (fixtures.gen.frontier_df's
# shape); a quarter of the wave is each non-canonical variant
_GEN_SQL = r"""
CREATE MACRO host_of(i, s) AS
    'h' || least({hosts} - 1, floor({hosts} * pow((hash(i, s) % 1000000) / 1e6, 3.0)))::INT
    || '.s' || s || '.bench.test';
CREATE TABLE cand AS
SELECT CASE i % 4
         WHEN 1 THEN 'HTTP://' || upper(host_of(i, {seed})) || '/p/' || i
         WHEN 2 THEN 'http://' || host_of(i, {seed}) || '/p/' || i || '#frag'
         WHEN 3 THEN 'http://' || host_of(i, {seed}) || ':80/p/' || i
         ELSE 'http://' || host_of(i, {seed}) || '/p/' || i
       END AS url,
       1::INTEGER AS level
FROM range({n}) t(i);
CREATE TABLE seen AS
SELECT 'http://' || host_of(i, {seed}) || '/p/' || i AS url
FROM range({n}) t(i) WHERE hash(i, {seed} + 1) % 1000 < {own}
UNION ALL
SELECT 'http://' || host_of(i, {seed}) || '/p/' || i
FROM range({n}, {n} + {history}) t(i);
"""

# one parquet file per input partition (Spark reads a small file as a
# single partition)
_COPY_SQL = "COPY (SELECT * FROM {table} WHERE hash(url) % {parts} = {k}) TO '{path}' (FORMAT parquet)"

# the reference wave, written from the definitions: lowercase scheme
# and host, drop http's default port, strip the fragment; drop seen
# URLs; keep each host's first {budget} URLs in URL order
_REF_SQL = r"""
CREATE TABLE ref AS
WITH parts AS (
    SELECT lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1)) AS hostport,
           regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^#]*)', 1) AS rest
    FROM cand
), canon AS (
    SELECT scheme || '://' ||
           CASE WHEN scheme = 'http' AND suffix(hostport, ':80')
                THEN hostport[:-4] ELSE hostport END || rest AS url
    FROM parts
), fresh AS (
    SELECT url FROM canon WHERE url NOT IN (SELECT url FROM seen)
), ranked AS (
    SELECT url, row_number() OVER (
        PARTITION BY regexp_extract(url, '^[a-z]+://([^/:?#]*)', 1)
        ORDER BY url) AS rn
    FROM fresh
)
SELECT url, (SELECT count(*) FROM fresh) AS n_fresh FROM ranked
WHERE rn <= {budget}
"""


class FrontierWave:
    name = "frontier-wave"
    item = "urls"
    nominal_s = 3.0  # a warm iteration on 4 cores

    def __init__(self, spark, seed: int, work: str):
        import duckdb

        from photon_spark.config import EngineConfig

        self.spark = spark
        self.work = work
        t0 = time.perf_counter()
        cand_path = os.path.join(work, "cand.parquet")
        seen_path = os.path.join(work, "seen.parquet")
        # closed before timing, so its tables count in no timed figure
        with duckdb.connect(config={"threads": 2, "memory_limit": "2GB",
                                    "temp_directory": os.path.join(work, "duckdb")}) as con:
            con.execute(_GEN_SQL.format(
                hosts=N_HOSTS, seed=seed, n=WAVE_URLS, own=int(OWN_SEEN * 1000),
                history=int(HISTORY * WAVE_URLS),
            ))
            parts = spark.sparkContext.defaultParallelism
            for table, path in (("cand", cand_path), ("seen", seen_path)):
                os.makedirs(path)
                for k in range(parts):
                    con.execute(_COPY_SQL.format(
                        table=table, parts=parts, k=k,
                        path=os.path.join(path, f"part-{k}.parquet"),
                    ))
            con.execute(_REF_SQL.format(budget=HOST_BUDGET))
            *want, n_fresh = con.execute(
                """SELECT count(*),
                          coalesce(sum(('0x' || md5(url)[1:8])::UBIGINT), 0),
                          coalesce(sum(('0x' || md5(url)[9:16])::UBIGINT), 0),
                          coalesce(max(n_fresh), 0)
                   FROM ref"""
            ).fetchone()
        self.want = tuple(int(x) for x in want)
        self.reference_s = time.perf_counter() - t0
        # the engine receives only the generated rows, cached before timing
        self.cand = spark.read.parquet(cand_path).persist()
        self.seen = spark.read.parquet(seen_path).persist()
        self.cand.count()
        self.seen.count()
        # what run_crawl would pick for a wave of n_fresh new URLs
        cfg = EngineConfig()
        self.partitions = max(1, min(cfg.shuffle_partitions,
                                     -(-n_fresh // cfg.urls_per_partition)))
        self.salts = cfg.host_salts if self.partitions > 1 else 1
        self.items = WAVE_URLS
        self.ops = 1  # an iteration that raises is the failed operation

    def wave(self):
        from photon_spark.plans import frontier, schedule

        canon = frontier.canonicalize_urls(self.cand.select("url", "level"))
        fresh = frontier.dedup_candidates(canon, self.seen)
        return schedule.schedule_wave(
            fresh, budget=HOST_BUDGET, partitions=self.partitions, salts=self.salts
        )

    def run(self, it: int) -> None:
        """One wave, persisted and counted. The count is the timed end of
        the pipeline; check() fingerprints the persisted rows untimed."""
        self.out = self.wave().persist()
        self.out.count()

    def reset(self) -> None:
        pass  # check() still reads the wave; the inputs stay cached

    def check(self, it: int) -> tuple[bool, int]:
        """The row count plus two sums over 32-bit slices of each URL's
        md5, a multiset fingerprint, against the reference's."""
        from pyspark.sql import functions as F

        md5 = F.md5("url")
        got = self.out.agg(
            F.count(F.lit(1)),
            F.sum(F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")),
            F.sum(F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")),
        ).first()
        self.out.unpersist()
        return tuple(int(x or 0) for x in got) == self.want, 0

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (FetchCrawl, FrontierWave)}
