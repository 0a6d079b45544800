"""Per-layer metrics of a traced run, from the driver's operation
records and the spans the workers wrote.

Encode-side numbers are per encode call, read-side numbers per read
operation (a ``decode_files`` / ``decode_table`` pass, a lookup, a
scan or a manifest query); times are summed over all worker
processes. Cold operations (the first set-up encode) are left out.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from harness import median

# spans reported with time and calls, encode side and read side; the
# checksum appears on both, as integrity.crc.encode / .decode
ENCODE_FNS = ["operators.chunk.encode_column", "codecs.cost.int_chunk_stats",
              "codecs.cost.choose_int_codec", "codecs.cost.encode_int_auto",
              "codecs.cost.encode_str_auto", "codecs.intcodecs.encode_int",
              "codecs.intcodecs.zstd_compress", "codecs.strcodecs.encode_str",
              "integrity.crc.chunk_checksum", "operators.bloom.build_bloom"]
DECODE_FNS = ["operators.chunk.decode_column", "codecs.intcodecs.decode_int",
              "codecs.intcodecs.zstd_decompress",
              "codecs.strcodecs.decode_str", "integrity.crc.chunk_checksum"]
# layers some workloads never reach: calls (and bytes) only, so no
# metric is a time that reads zero on every run of such a workload
ENCODE_COUNTS = ["codecs.floatcodecs.encode_float_auto",
                 "operators.fsutil.open_parquet",
                 "operators.fsutil.write_parquet_atomic"]
DECODE_COUNTS = ["codecs.floatcodecs.decode_float",
                 "operators.fsutil.read_parquet"]
CRC = "integrity.crc.chunk_checksum"
READ_KINDS = ("decode", "lookup", "absent_lookup", "scan", "manifest")
# read operations that decode chunks, and their metric names: "pass"
# is a whole-table decode_files / decode_table pass
CHUNK_KINDS = {"decode": "pass", "lookup": "lookup",
               "absent_lookup": "absent_lookup", "scan": "scan"}


def _kernel_metrics(prefix, kernel, ops, spans_by_op, children, cores):
    """Kernel wall (Python compute, summed over workers), its self
    time, input-pull time, closure check and Spark/IO share."""
    k_s, self_s, in_s, child_s, share = [], [], [], [], []
    for o in ops:
        segs = [s for s in spans_by_op[o["id"]] if s["name"] == kernel]
        wall = sum(s["dur"] for s in segs)
        pulls = sum(c["dur"] for s in segs for c in children[s["key"]]
                    if c["name"] == kernel + ".input")
        other = sum(c["dur"] for s in segs for c in children[s["key"]]
                    if c["name"] != kernel + ".input")
        k_s.append(wall - pulls)
        in_s.append(pulls)
        self_s.append(sum(s["self"] for s in segs))
        child_s.append(other)
        share.append(1 - ((wall - pulls) / cores) / o["wall_s"])
    kernel_total = sum(k_s)
    closure = ((sum(child_s) + sum(self_s)) / kernel_total
               if kernel_total else 0.0)
    return {
        f"{prefix}.kernel_s": (_mean(k_s), "s"),
        f"{prefix}.self_s": (_mean(self_s), "s"),
        f"{prefix}.input_s": (_mean(in_s), "s"),
        f"{prefix}.span_closure": (closure, "ratio"),
        f"{prefix}.spark_io_share": (_mean(share), "ratio"),
    }


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _fn_metrics(fns, ops, spans_by_op, with_time: bool,
                side: str = "") -> dict:
    out = {}
    for span in fns:
        prefix = f"integrity.crc.{side}" if span == CRC else span
        per_op = [[s for s in spans_by_op[o["id"]] if s["name"] == span]
                  for o in ops]
        calls = _mean([len(p) for p in per_op])
        out[f"{prefix}_calls"] = (calls, "count")
        if with_time:
            out[f"{prefix}_s"] = (
                _mean([sum(s["dur"] for s in p) for p in per_op]), "s")
        if span.endswith(("zstd_compress", "zstd_decompress")):
            out[f"{prefix}_mb_in"] = (_mean(
                [sum(s["in"] for s in p) for p in per_op]) / 1e6, "MB")
            out[f"{prefix}_mb_out"] = (_mean(
                [sum(s["out"] for s in p) for p in per_op]) / 1e6, "MB")
        if span == CRC:
            mb = sum(s["in"] for p in per_op for s in p) / 1e6
            sec = sum(s["dur"] for p in per_op for s in p)
            out[f"{prefix}_mb_per_s"] = (mb / sec if sec else 0.0, "MB/s")
        if span.endswith(("write_parquet_atomic", "read_parquet")):
            out[f"{prefix}_mb"] = (_mean(
                [sum(s["in"] + s["out"] for s in p) for p in per_op]) / 1e6,
                "MB")
    return out


def per_layer(h, wl, raw_spans, cores: int, session_s: float,
              gen_s: float) -> tuple[dict, dict]:
    """(metrics, detail): the per-layer metrics listed in
    BENCHMARK.json, and every span name's totals for the record."""
    spans = [{"key": (r[4], r[0]), "parent": (r[4], r[1]), "name": r[2],
              "op": r[3], "dur": r[6] / 1e9, "self": r[7] / 1e9,
              "in": r[8], "out": r[9]} for r in raw_spans]
    spans_by_op = defaultdict(list)
    children = defaultdict(list)
    for s in spans:
        spans_by_op[s["op"]].append(s)
        children[s["parent"]].append(s)

    traced = [o for o in h.ops if o["traced"]]
    enc_ops = [o for o in traced if o["kind"] == "encode"
               and (o["phase"] == "loop" or o.get("rep", 0) > 0)]
    read_ops = [o for o in traced if o["kind"] in READ_KINDS
                and o["phase"] == "loop"]

    m = {"plans.session.start_s": (session_s, "s"),
         "datagen.gen_s": (gen_s, "s"),
         "operators.encode.call_s": (
             median([o["wall_s"] for o in enc_ops]) or 0.0, "s"),
         "operators.encode.jobs": (
             _mean([o["jobs"] for o in enc_ops]), "count"),
         "operators.encode.tasks": (
             _mean([o["tasks"] for o in enc_ops]), "count"),
         "operators.decode.call_s": (
             median([o["wall_s"] for o in read_ops]) or 0.0, "s"),
         "operators.decode.jobs": (
             _mean([o["jobs"] for o in read_ops]), "count"),
         "operators.decode.tasks": (
             _mean([o["tasks"] for o in read_ops]), "count")}
    m.update(_kernel_metrics("operators.encode", "encode.kernel", enc_ops,
                             spans_by_op, children, cores))
    m.update(_kernel_metrics("operators.decode", "decode.kernel", read_ops,
                             spans_by_op, children, cores))
    m.update(_fn_metrics(ENCODE_FNS, enc_ops, spans_by_op, True, "encode"))
    m.update(_fn_metrics(DECODE_FNS, read_ops, spans_by_op, True, "decode"))
    m.update(_fn_metrics(ENCODE_COUNTS, enc_ops, spans_by_op, False))
    m.update(_fn_metrics(DECODE_COUNTS, read_ops, spans_by_op, False))

    enc = wl.encoded or {}
    m["operators.chunk.chunks_per_encode"] = (enc.get("chunks", 0), "count")
    m["operators.chunk.codec_mix_distinct"] = (
        len(enc.get("codec_mix", {})), "count")
    for kind, label in CHUNK_KINDS.items():
        ops = [o for o in read_ops if o["kind"] == kind]
        decoded = [sum(1 for s in spans_by_op[o["id"]]
                       if s["name"] == CRC)
                   for o in ops]
        rows = [o.get("rows", enc.get("n_rows", 0)) for o in ops]
        total = (enc.get("chunks", 0) if kind == "decode"
                 else getattr(wl, "chunks_total", 0)) if ops else 0
        kept = [o.get("zone_kept", total) for o in ops]
        p = f"operators.decode.{label}"
        m[f"{p}.chunks_total"] = (total, "count")
        m[f"{p}.chunks_kept_est"] = (_mean(kept), "count")
        m[f"{p}.chunks_decoded"] = (_mean(decoded), "count")
        m[f"{p}.rows_per_chunk_decoded"] = (
            sum(rows) / sum(decoded) if sum(decoded) else 0.0, "count")
        m[f"{p}.jobs"] = (_mean([o["jobs"] for o in ops]), "count")
    m["operators.decode.manifest.jobs"] = (_mean(
        [o["jobs"] for o in read_ops if o["kind"] == "manifest"]), "count")

    m["trace.overhead_share"] = (_overhead(h), "ratio")
    m["trace.spans_per_op"] = (
        len(spans) / len(traced) if traced else 0.0, "count")

    detail = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0,
                                  "bytes_in": 0, "bytes_out": 0})
    for s in spans:
        d = detail[s["name"]]
        d["calls"] += 1
        d["s"] += s["dur"]
        d["self_s"] += s["self"]
        d["bytes_in"] += s["in"]
        d["bytes_out"] += s["out"]
    return m, dict(sorted(detail.items()))


def _overhead(h) -> float:
    """Median traced over median untraced wall, per operation kind of
    the measured loop, averaged over kinds; minus one."""
    ratios = []
    for kind in {o["kind"] for o in h.loop_ops()}:
        on = [o["wall_s"] for o in h.loop_ops([kind]) if o["traced"]]
        off = [o["wall_s"] for o in h.loop_ops([kind]) if not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    return _mean(ratios) - 1 if ratios else 0.0
