"""The three workloads. Each one makes its inputs from the seed, sets
up, and runs one closed-loop iteration at a time through the harness,
checking every answer.

Sizes fit a run (set-up plus ``--seconds`` of measurement) into about
a minute at local[4].
"""

from __future__ import annotations

import math
import os
import random
import shutil

from pyspark.sql import functions as F

from harness import median, tail

TOKEN_DOCS = 16384          # ~13 M Zipf tokens
TOKEN_FILE_DOCS = 1024      # 16 input files, one chunk each
WIDE_ROWS = 393216          # 16 files
WIDE_FILES = 16
# untimed iterations before the measured loop: the CPU time of an
# iteration settles after about three, once the JVM has compiled the
# hot paths
WARMUP_ITERATIONS = 3


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _hash_sum(*cols):
    """Order-independent content hash: the sum of per-row hashes."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def _write_observed(df, path: str, file_rows: int = 0, **aggs) -> dict:
    """Write ``df`` to parquet at ``path``, at most ``file_rows`` rows
    per file (0: no limit), and return ``aggs`` over the rows written,
    computed in the same pass (the answer key)."""
    from pyspark.sql import Observation

    obs = Observation("input")
    df.observe(obs, *[a.alias(k) for k, a in aggs.items()]).write \
        .option("maxRecordsPerFile", file_rows).parquet(path)
    return obs.get


def _stats_rows(manifest):
    """Payload-free per-chunk rows: the aggregate that forces an
    encode and yields its size, chunk count and codec mix."""
    return manifest.select(
        "n_rows", "n_values", "enc_bytes",
        F.col("column_stats.name").alias("names"),
        F.col("column_stats.codec").alias("codecs")).collect()


def _encode_summary(rows) -> dict:
    mix: dict[str, int] = {}
    for r in rows:
        for name, codec in zip(r["names"], r["codecs"]):
            key = f"{name}:{codec}"
            mix[key] = mix.get(key, 0) + 1
    return {"chunks": len(rows),
            "n_rows": sum(r["n_rows"] for r in rows),
            "n_values": sum(r["n_values"] for r in rows),
            "enc_bytes": sum(r["enc_bytes"] for r in rows),
            "codec_mix": dict(sorted(mix.items()))}


def _unit_bytes(src: str, cores: int) -> int:
    """encode_files bucket size giving two waves of tasks: the
    engine's automatic size has a 16 MB floor, which at these input
    sizes would leave cores idle."""
    total = sum(os.path.getsize(os.path.join(src, f))
                for f in os.listdir(src) if f.endswith(".parquet"))
    return total // (2 * cores) + 1


def _differs(want, got, what: str) -> list[str]:
    return [] if want == got else [f"{what}: expected {want}, got {got}"]


class Workload:
    name = ""
    unit = ""               # what bytes_per_value divides by

    def __init__(self, spark, h, work: str, seed: int, cores: int):
        self.spark = spark
        self.h = h
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.cores = cores
        self.encoded: dict | None = None   # first encode's summary
        os.makedirs(self.work, exist_ok=True)

    def setup_rep(self, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Answer keys, computed once after set-up (not timed)."""

    def warm_up(self) -> None:
        for _ in range(WARMUP_ITERATIONS):
            self.iterate(phase="warmup", traced=False)

    def iterate(self, phase: str = "loop", traced=None) -> None:
        raise NotImplementedError

    def check_encode(self, summary: dict) -> list[str]:
        """The first encode fixes size, chunks and codec mix; every
        later encode of the same input must repeat them exactly."""
        if self.encoded is None:
            self.encoded = summary
            return []
        return _differs(self.encoded, summary, "encode output")

    def bytes_per_value(self) -> float | None:
        e = self.encoded
        if not e:
            return None
        return e["enc_bytes"] / (e["n_values"] if self.unit == "token"
                                 else e["n_rows"])

    def op_times(self, field: str = "wall_s") -> list[float]:
        """Wall (``wall_s``) or CPU (``cpu_s``, summed over the driver,
        the JVM and the Python workers) seconds of each closed-loop
        iteration."""
        enc = self.h.loop_ops(["encode"])
        dec = self.h.loop_ops(["decode"])
        return [a[field] + b[field] for a, b in zip(enc, dec)]

    def _rate(self, field: str) -> float | None:
        """Tokens or rows round-tripped (encoded and decoded) per
        second of ``field``: the median over the closed loop's
        iterations, so a burst of host contention moves it less than a
        mean would."""
        times = self.op_times(field)
        e = self.encoded
        if not times or not e:
            return None
        n = e["n_values"] if self.unit == "token" else e["n_rows"]
        return median([n / t for t in times])

    def items_per_s(self) -> float | None:
        """Work per wall-clock second."""
        return self._rate("wall_s")

    def items_per_cpu_s(self) -> float | None:
        """Work per CPU second. Unlike :meth:`items_per_s`, it does not
        count time the hypervisor gives to other guests."""
        return self._rate("cpu_s")

    def metrics(self) -> dict:
        """Workload-specific end-to-end metrics: name -> (value, unit)."""
        raise NotImplementedError


class BulkTokens(Workload):
    """encode_files -> checksum-verified decode_files on a seeded
    token table: the paper's job."""

    name = "bulk_tokens"
    unit = "token"

    def setup_rep(self, rep: int) -> None:
        from br_archive_spark.datagen import token_table

        src = _fresh(os.path.join(self.work, f"src-{rep}"))
        row = _write_observed(
            token_table(self.spark, TOKEN_DOCS, seed=self.seed), src,
            TOKEN_FILE_DOCS, rows=F.count("*"),
            tokens=F.sum(F.size("tokens")), h=_hash_sum("doc_id", "tokens"))
        if rep:
            shutil.rmtree(os.path.join(self.work, f"src-{rep - 1}"))
        self.src = src
        self.truth = (row["rows"], row["tokens"], row["h"])
        self.out = os.path.join(self.work, "enc")

    def iterate(self, phase: str = "loop", traced=None) -> None:
        from br_archive_spark.operators import decode_files, encode_files

        def encode():
            _fresh(self.out)
            return _encode_summary(_stats_rows(encode_files(
                self.spark, self.src,
                target_unit_bytes=_unit_bytes(self.src, self.cores),
                output_dir=self.out)))

        def check_encode(s):
            return (_differs(self.truth[1], s["n_values"], "tokens")
                    + self.check_encode(s))

        def decode():
            r = decode_files(self.spark, self.out).agg(
                F.count("*"), F.sum(F.size("tokens")),
                _hash_sum("doc_id", "tokens")).first()
            return tuple(r)

        if self.h.op("encode", encode, check_encode, phase=phase,
                     traced=traced) is not None:
            self.h.op("decode", decode,
                      lambda r: _differs(self.truth, r, "decoded table"),
                      phase=phase, traced=traced)

    def metrics(self) -> dict:
        tok = self.truth[1]
        return {
            "encode_tok_per_s": (median(
                [tok / o["wall_s"] for o in self.h.loop_ops(["encode"])]),
                "1/s"),
            "decode_tok_per_s": (median(
                [tok / o["wall_s"] for o in self.h.loop_ops(["decode"])]),
                "1/s"),
            "bytes_per_token": (self.bytes_per_value(), "B"),
        }


class WideTable(Workload):
    """encode_table(df, infer_specs(df)) -> decode_table over a seeded
    table with one column per scalar kind, through the JVM->Arrow
    relay."""

    name = "wide_table"
    unit = "row"

    def _generate(self):
        def h(i):
            return F.xxhash64(F.col("id"), F.lit(self.seed * 1000 + i))

        def pick(i, n):
            return F.pmod(h(i), F.lit(n))

        srcs = F.array(*[F.lit(s) for s in ("web", "books", "code",
                                             "wiki")])
        src = F.element_at(srcs, (pick(1, 4) + 1).cast("int"))
        return self.spark.range(0, WIDE_ROWS, 1, WIDE_FILES).select(
            # sorted int64 key
            (F.col("id") * 7 + F.lit(self.seed % 7)).alias("k"),
            # low-cardinality int in runs of 64 rows
            F.pmod(F.xxhash64(F.floor(F.col("id") / 64),
                              F.lit(self.seed)), F.lit(12)).alias("cat"),
            (pick(2, 10) < 3).alias("flag"),
            (pick(3, 1_000_000) / F.lit(100.0)).alias("price"),
            F.when(pick(4, 20) == 0, None).otherwise(
                (pick(5, 10 ** 10).cast("decimal(12,0)") / F.lit(100))
                .cast("decimal(12,2)")).alias("amount"),
            F.date_add(F.lit("2020-01-01").cast("date"),
                       pick(6, 1500).cast("int")).alias("day"),
            (F.lit(1_577_836_800) + F.col("id") * 5 + pick(7, 3))
            .cast("timestamp").alias("ts"),
            src.alias("src"),
            # high-cardinality, prefix-heavy string with 5% nulls
            F.when(pick(8, 20) == 0, None).otherwise(F.concat(
                F.lit("https://example.org/corpus/"), src, F.lit("/"),
                F.lpad(F.hex(pick(9, 1 << 20)), 5, "0"),
                F.lit("/page-"), F.col("id").cast("string")))
            .alias("url"),
            F.unhex(F.lpad(F.hex(h(10)), 16, "0")).alias("blob"))

    def setup_rep(self, rep: int) -> None:
        src = _fresh(os.path.join(self.work, f"src-{rep}"))
        gen = self._generate()
        row = _write_observed(gen, src, rows=F.count("*"),
                              h=_hash_sum(*gen.columns))
        if rep:
            shutil.rmtree(os.path.join(self.work, f"src-{rep - 1}"))
        self.src = src
        self.truth = (row["rows"], row["h"])

    def prepare(self) -> None:
        from br_archive_spark.operators import infer_specs

        self.df = self.spark.read.parquet(self.src)
        self.specs = infer_specs(self.df)
        self.cols = [n for n, _ in self.specs]

    def iterate(self, phase: str = "loop", traced=None) -> None:
        from br_archive_spark.operators import decode_table, encode_table

        cached = []

        def encode():
            # cached, so the decode reads this encode's manifest
            cached.append(encode_table(self.df, self.specs).cache())
            return _encode_summary(_stats_rows(cached[0]))

        def check_encode(s):
            return (_differs(self.truth[0], s["n_rows"], "rows")
                    + self.check_encode(s))

        def decode():
            return tuple(decode_table(cached[0], self.specs).agg(
                F.count("*"), _hash_sum(*self.cols)).first())

        try:
            if self.h.op("encode", encode, check_encode, phase=phase,
                         traced=traced) is not None:
                self.h.op("decode", decode,
                          lambda r: _differs(self.truth, r,
                                             "decoded table"),
                          phase=phase, traced=traced)
        finally:
            for enc in cached:
                enc.unpersist(blocking=True)

    def metrics(self) -> dict:
        rows = self.truth[0]
        return {
            "wide_encode_rows_per_s": (median(
                [rows / o["wall_s"] for o in self.h.loop_ops(["encode"])]),
                "1/s"),
            "wide_decode_rows_per_s": (median(
                [rows / o["wall_s"] for o in self.h.loop_ops(["decode"])]),
                "1/s"),
            "wide_bytes_per_row": (self.bytes_per_value(), "B"),
        }


MANIFEST_QUERIES = ("agg_tokens", "ndv_doc_id", "ndv_source",
                    "estimate_wiki")
# one round of the closed loop, in seeded order: 40% present-key
# lookups, 20% absent-key lookups, 10% scans, 30% manifest queries
ROUND = ("lookup",) * 4 + ("absent_lookup",) * 2 + ("scan",) \
    + ("manifest",) * 3


class InteractiveReads(Workload):
    """A seeded mix of point lookups, a pruned scan and payload-free
    manifest queries over the bulk token table, encoded at set-up."""

    name = "interactive_reads"
    unit = "token"

    def setup_rep(self, rep: int) -> None:
        """Rep 0 generates the table; every rep encodes it afresh, so
        the repeated set-up step is the encode."""
        from br_archive_spark.datagen import token_table
        from br_archive_spark.operators import encode_files

        if rep == 0:
            self.src = _fresh(os.path.join(self.work, "src"))
            wiki = F.col("source") == "wiki"
            self.truth = _write_observed(
                token_table(self.spark, TOKEN_DOCS, seed=self.seed),
                self.src, TOKEN_FILE_DOCS, rows=F.count("*"),
                tokens=F.sum(F.size("tokens")),
                tmin=F.min(F.array_min("tokens")),
                tmax=F.max(F.array_max("tokens")),
                wiki=F.sum(F.when(wiki, 1).otherwise(0)),
                wiki_tokens=F.sum(F.when(wiki, F.size("tokens"))
                                  .otherwise(0)))
        man = _fresh(os.path.join(self.work, f"man-{rep}"))
        self.h.op("encode", lambda: _encode_summary(_stats_rows(
            encode_files(self.spark, self.src,
                         target_unit_bytes=_unit_bytes(self.src,
                                                       self.cores),
                         output_dir=man))),
            self.check_encode, phase="setup", rep=rep)
        if rep:
            shutil.rmtree(os.path.join(self.work, f"man-{rep - 1}"))
        self.man = man

    def prepare(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from br_archive_spark.operators import scan_estimate
        from br_archive_spark.operators.bloom import HLL_M

        # the answer keys are read straight from the input files, not
        # through the engine or Spark
        src = pq.read_table(self.src, columns=["doc_id", "tokens",
                                               "source", "n_tok"])
        self.truth["ndv_doc"] = pc.count_distinct(src["doc_id"]).as_py()
        self.truth["ndv_src"] = pc.count_distinct(src["source"]).as_py()
        # HLL standard error 1.04/sqrt(m); accept three of them
        self.ndv_tol = 3 * 1.04 / math.sqrt(HLL_M)
        man = pq.read_table(self.man, columns=["key_min", "key_max"])
        ranges = list(zip(man["key_min"].to_pylist(),
                          man["key_max"].to_pylist()))
        self.chunks_total = len(ranges)

        def zone_kept(key):
            return sum(1 for lo, hi in ranges if lo <= key <= hi)

        rng = random.Random(self.seed)
        picks = src.take(rng.sample(range(src.num_rows), 48)).to_pylist()
        self.present = {r["doc_id"]: (r["doc_id"], r["tokens"],
                                      r["source"], r["n_tok"])
                        for r in picks}
        # an absent key that sorts right after a present one, inside a
        # chunk's key range: only the bloom can prune that chunk
        self.absent = []
        for i in rng.sample(range(src.num_rows), 64):
            key = src["doc_id"][i].as_py() + "x"
            if zone_kept(key):
                self.absent.append(key)
            if len(self.absent) == 24:
                break
        self.zone_kept = {k: zone_kept(k)
                          for k in list(self.present) + self.absent}
        self.manifest = self.spark.read.parquet(self.man)
        self.wiki_band = [("source", "wiki", "wiki")]
        self.estimate = scan_estimate(self.manifest, self.wiki_band)
        self.rng = rng
        self.round: list[str] = []
        self.manifest_turn = 0

    def _next(self) -> str:
        if not self.round:
            self.round = list(ROUND)
            self.rng.shuffle(self.round)
        return self.round.pop()

    def warm_up(self) -> None:
        # each query shape once: an absent-key lookup has the plan of a
        # lookup, and scan_estimate already ran in prepare
        for kind in ("lookup", "scan", "manifest", "manifest"):
            self._run(kind, phase="warmup", traced=False)

    def iterate(self, phase: str = "loop", traced=None) -> None:
        self._run(self._next(), phase=phase, traced=traced)

    def _run(self, kind: str, phase: str, traced) -> None:
        from br_archive_spark.operators import (agg_encoded, lookup_docs,
                                                ndv_encoded, scan_estimate,
                                                scan_where)

        man, t = self.manifest, self.truth
        if kind == "lookup":
            key = self.rng.choice(sorted(self.present))
            want = [self.present[key]]
            self.h.op(kind, lambda: [
                (r["doc_id"], list(r["tokens"]), r["source"], r["n_tok"])
                for r in lookup_docs(man, [key]).collect()],
                lambda got: _differs(want, got, f"lookup {key}"),
                phase=phase, traced=traced, rows=1,
                zone_kept=self.zone_kept[key])
        elif kind == "absent_lookup":
            key = self.rng.choice(self.absent)
            self.h.op(kind, lambda: lookup_docs(man, [key]).count(),
                      lambda got: _differs(0, got, f"absent {key}"),
                      phase=phase, traced=traced, rows=0,
                      zone_kept=self.zone_kept[key])
        elif kind == "scan":
            want = (t["wiki"], t["wiki_tokens"])
            self.h.op(kind, lambda: tuple(scan_where(
                man, self.wiki_band, project=["doc_id", "tokens"]).agg(
                    F.count("*"), F.sum(F.size("tokens"))).first()),
                lambda got: _differs(want, got, "wiki scan"),
                phase=phase, traced=traced, rows=t["wiki"],
                zone_kept=self.estimate["chunks_kept"])
        else:
            q = MANIFEST_QUERIES[self.manifest_turn % len(MANIFEST_QUERIES)]
            self.manifest_turn += 1
            if q == "agg_tokens":
                fn = lambda: agg_encoded(man, "tokens").first().asDict()
                check = lambda r: (
                    _differs((t["tokens"], t["tmin"], t["tmax"]),
                             (r["n_values"], r["vmin"], r["vmax"]),
                             "agg_encoded(tokens)"))
            elif q.startswith("ndv_"):
                col = q[4:]
                exact = t["ndv_doc"] if col == "doc_id" else t["ndv_src"]
                fn = lambda: ndv_encoded(man, col)
                check = lambda est: (
                    [] if abs(est - exact) <= self.ndv_tol * exact
                    else [f"ndv_encoded({col}) = {est}, exact {exact}"])
            else:
                fn = lambda: scan_estimate(man, self.wiki_band)
                check = lambda e: (
                    [] if e["rows_bracket"][0] <= t["wiki"]
                    <= e["rows_bracket"][1]
                    and e["chunks_total"] == self.chunks_total
                    else [f"scan_estimate {e} vs {t['wiki']} rows"])
            self.h.op("manifest", fn, check, phase=phase, traced=traced,
                      query=q)

    def op_times(self, field: str = "wall_s") -> list[float]:
        return [o[field] for o in self.h.loop_ops()]

    def _rate(self, field: str) -> float | None:
        """Queries of the seeded mix per second of ``field``: the
        inverse of the mix-weighted sum of each query kind's median,
        so how a run's last, partial round happened to be ordered does
        not move it."""
        weights = {k: ROUND.count(k) / len(ROUND) for k in set(ROUND)}
        times = {k: [o[field] for o in self.h.loop_ops([k])]
                 for k in weights}
        if not all(times.values()):
            return None
        return 1 / sum(w * median(times[k]) for k, w in weights.items())

    def metrics(self) -> dict:
        def ms(kind):
            return [1e3 * o["wall_s"] for o in self.h.loop_ops([kind])]

        look = ms("lookup")
        tail_v, tail_p = tail(look)
        return {
            "lookup_p50_ms": (median(look), "ms"),
            "lookup_tail_ms": (tail_v, "ms"),
            "lookup_tail_percentile": (tail_p, "%"),
            "lookup_samples": (len(look), "count"),
            "absent_lookup_p50_ms": (median(ms("absent_lookup")), "ms"),
            "scan_p50_ms": (median(ms("scan")), "ms"),
            "manifest_query_p50_ms": (median(ms("manifest")), "ms"),
            "bytes_per_token": (self.bytes_per_value(), "B"),
        }


WORKLOADS = {w.name: w for w in (BulkTokens, WideTable, InteractiveReads)}
