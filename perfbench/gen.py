"""Seeded input generator for the graft benchmark.

Every table is a pure function of (workload, seed): numpy's PCG64 drives all
randomness, so one seed gives byte-identical column data and another seed
gives tables of the same row counts and sizes with different rows. The JVM
under test receives only the parquet files (and, for `depth`, a FASTA file)
written here; the reference checks in oracle.py read the same files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shapes are taken from the repository's own recorded interval-join and
# coverage benchmark data: graft.Bench runs its interval joins on
# Tables.ivA x Tables.ivB and its coverage/pileup queries on Tables.reads,
# both derived from the sf0.1 test tables. Measured there with DuckDB:
#
#   ivA x ivB: 600,000 reads (1-50 bp, mean 25.5) and 20,000 features
#   (201 bp) on 8 contigs x 100 kb; 3,550,243 overlapping pairs, i.e.
#   30 reads per feature, 25,000 features per Mb, 5.9 pairs per read.
#   reads, per sample: 149,888 alignments (1-30 bp, mean 15.4; 14.5%
#   spliced with an N gap, 30% carrying one mismatch) whose starts span
#   1,000 bp on each of 4 contigs: 2,175,046 aligned bases, about 530x.
#
# The benchmark keeps these ratios and shrinks the totals by using shorter
# contigs only (JOIN_SCALE, DEPTH_SCALE). Placement is uniform, where the
# recorded tables cluster (there 25% of reads overlap a feature; here
# nearly all do, at the same mean pairs per read).
RECORDED_JOIN = {"source": "Tables.ivA x Tables.ivB, sf0.1", "reads": 600_000,
                 "features": 20_000, "contigs": 8, "contig_len": 100_000,
                 "read_len": (1, 50), "feat_len": (201, 201), "pairs": 3_550_243}
RECORDED_DEPTH = {"source": "Tables.reads sample s1, sf0.1", "reads": 149_888,
                  "contigs": 4, "start_span": 1_000, "read_len": (1, 30),
                  "aligned_bases": 2_175_046, "spliced_frac": 0.145, "alt_frac": 0.30}
JOIN_SCALE = 10
DEPTH_SCALE = 4

CONTIGS = RECORDED_JOIN["contigs"]
CONTIG_LEN = RECORDED_JOIN["contig_len"] // JOIN_SCALE
READS = RECORDED_JOIN["reads"] // JOIN_SCALE
FEATURES = RECORDED_JOIN["features"] // JOIN_SCALE
NEAREST_READS_EVERY = 20          # nearest-k probes every 20th read
FULL_OUTER_CONTIG = "chr1"        # full outer join: one contig of reads
STREAM_FILES = 4                  # featurecounts' reads also arrive as a stream
JOIN_WORKLOADS = ("featurecounts", "wide_join")

# spark.graft.rangejoin.maxBroadcastBytes per workload. featurecounts and
# wide_join share their inputs (same seed, same tables) and differ only in
# the budget: featurecounts keeps graft's default (256 MiB) and Spark's own
# broadcast threshold, so its annotation side fits; wide_join sets both to
# 8 KiB, below its annotation side's planner estimate, which models a
# catalog larger than the budget without generating a 256 MiB one.
BROADCAST_BUDGET = {"featurecounts": None, "wide_join": 8 << 10}
GRAFT_DEFAULT_BUDGET = 256 << 20

# Spliced reads (a middle third skipped with N) are drawn among reads of at
# least 9 bp, as in Tables.reads.
SPLICE_MIN_LEN = 9
DEPTH = {"contigs": RECORDED_DEPTH["contigs"],
         "start_span": RECORDED_DEPTH["start_span"] // DEPTH_SCALE,
         "reads": RECORDED_DEPTH["reads"] // DEPTH_SCALE,
         "read_len": RECORDED_DEPTH["read_len"],
         "spliced_frac": RECORDED_DEPTH["spliced_frac"], "alt_frac": RECORDED_DEPTH["alt_frac"]}
DEPTH["contig_len"] = DEPTH["start_span"] + DEPTH["read_len"][1]


def _rng(workload, seed, stream):
    key = int.from_bytes(hashlib.sha256(f"{workload}/{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, key]))


def checksum(table):
    """Content hash over column values (independent of parquet encoding)."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        col = table.column(name).combine_chunks()
        for buf in col.buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()[:16]


def _write(out_dir, name, table, info):
    path = os.path.join(out_dir, name + ".parquet")
    pq.write_table(table, path, compression="snappy")
    info["tables"][name] = {"rows": table.num_rows, "bytes": os.path.getsize(path),
                            "checksum": checksum(table)}


def _intervals(rng, n, lens, key_name, key_base=0):
    contig = rng.integers(0, CONTIGS, n)
    length = rng.integers(lens[0], lens[1] + 1, n)
    start = rng.integers(1, CONTIG_LEN - length, n)
    order = np.lexsort((start, contig))
    contig, start, length = contig[order], start[order], length[order]
    return pa.table({
        key_name: pa.array(np.arange(n, dtype=np.int64) + key_base),
        "contig": pa.array(np.char.add("chr", (contig + 1).astype(str))),
        "pos_start": pa.array(start.astype(np.int32)),
        "pos_end": pa.array((start + length - 1).astype(np.int32)),
    })


def gen_join(workload, seed, out_dir, info):
    # Both join workloads draw from one stream: the same seed gives them the
    # same tables, and only the broadcast budget tells them apart.
    reads = _intervals(_rng("join", seed, "reads"), READS, RECORDED_JOIN["read_len"], "a_key")
    feats = _intervals(_rng("join", seed, "features"), FEATURES, RECORDED_JOIN["feat_len"],
                       "b_key", key_base=1_000_000_000)
    _write(out_dir, "reads", reads, info)
    _write(out_dir, "features", feats, info)
    if workload == "featurecounts":
        # The same reads as a file stream, one micro-batch per file.
        sdir = os.path.join(out_dir, "reads_stream")
        os.makedirs(sdir)
        per = READS // STREAM_FILES
        for f in range(STREAM_FILES):
            pq.write_table(reads.slice(f * per, per if f < STREAM_FILES - 1 else None),
                           os.path.join(sdir, f"part-{f:03d}.parquet"))
    mean_feat = float(np.mean(feats.column("pos_end").to_numpy() - feats.column("pos_start").to_numpy() + 1))
    mean_read = float(np.mean(reads.column("pos_end").to_numpy() - reads.column("pos_start").to_numpy() + 1))
    read_contigs = reads.column("contig").to_numpy(zero_copy_only=False)
    info["inputs"] = {"reads": READS, "features": FEATURES,
                      "chr1_reads": int(np.sum(read_contigs == FULL_OUTER_CONTIG)),
                      "probes": len(range(0, READS, NEAREST_READS_EVERY)),
                      "probe_every": NEAREST_READS_EVERY, "stream_files": STREAM_FILES}
    budget = BROADCAST_BUDGET[workload]
    info["properties"].update({
        "shape_source": RECORDED_JOIN["source"],
        "reads_per_feature": READS / FEATURES,
        "features_per_mb": FEATURES / (CONTIGS * CONTIG_LEN) * 1e6,
        # Expected overlapping features per read under uniform placement.
        "pairs_per_read_expected": FEATURES * (mean_feat + mean_read - 1) / (CONTIGS * CONTIG_LEN),
        "pairs_per_read_recorded": RECORDED_JOIN["pairs"] / RECORDED_JOIN["reads"],
        "broadcast_budget_bytes": GRAFT_DEFAULT_BUDGET if budget is None else budget,
        "features_parquet_bytes": info["tables"]["features"]["bytes"],
    })


def _ref_slice(contig, a, b):
    """Mock reference bases a..b (1-based, inclusive) of `contig`, as
    graft.operators.MockReference defines them:
    base(pos) = "ACGT"[(ascii(contig[0]) + pos) % 4]."""
    o = (ord(contig[0]) + a) % 4
    return ("ACGT" * ((b - a) // 4 + 2))[o:o + b - a + 1]


def gen_depth(seed, out_dir, info):
    d = DEPTH
    rng = _rng("depth", seed, "alignments")
    n = d["reads"]
    contig_idx = rng.integers(0, d["contigs"], n)
    length = rng.integers(d["read_len"][0], d["read_len"][1] + 1, n)
    start = rng.integers(1, d["start_span"] + 1, n)
    long_frac = (d["read_len"][1] - SPLICE_MIN_LEN + 1) / (d["read_len"][1] - d["read_len"][0] + 1)
    spliced = (rng.random(n) < d["spliced_frac"] / long_frac) & (length >= SPLICE_MIN_LEN)
    has_alt = rng.random(n) < d["alt_frac"]
    alt_frac_pos = rng.random(n)
    alt_shift = rng.integers(1, 4, n)
    base_qual = rng.integers(0, 41, n)
    mapq = rng.integers(0, 61, n)
    order = np.lexsort((start, contig_idx))
    cols = {k: [] for k in ("sample_id", "contig", "pos_start", "pos_end", "mapq", "flag",
                            "cigar", "seq", "qual_str", "md_tag", "has_alt", "alt_pos",
                            "alt_base", "base_qual")}
    aligned = 0
    for i in order:
        contig = str(contig_idx[i])
        ln, st = int(length[i]), int(start[i])
        if spliced[i]:
            third = ln // 3
            segs = [(st, st + third - 1), (st + 2 * third, st + ln - 1)]
            cigar = f"{third}M{third}N{ln - 2 * third}M"
        else:
            segs = [(st, st + ln - 1)]
            cigar = f"{ln}M"
        ref = "".join(_ref_slice(contig, a, b) for a, b in segs)
        n_aligned = len(ref)
        if has_alt[i]:
            off = int(alt_frac_pos[i] * n_aligned)
            first = segs[0][1] - segs[0][0] + 1
            alt_pos = segs[0][0] + off if off < first else segs[1][0] + off - first
            alt_base = "ACGT"[("ACGT".index(ref[off]) + int(alt_shift[i])) % 4]
            seq = ref[:off] + alt_base + ref[off + 1:]
            md = f"{off}{ref[off]}{n_aligned - off - 1}"
        else:
            seq, alt_pos, alt_base, md = ref, None, None, str(n_aligned)
        aligned += n_aligned
        cols["sample_id"].append("s1")
        cols["contig"].append(contig)
        cols["pos_start"].append(st)
        cols["pos_end"].append(st + ln - 1)
        cols["mapq"].append(int(mapq[i]))
        cols["flag"].append(0)
        cols["cigar"].append(cigar)
        cols["seq"].append(seq)
        cols["qual_str"].append(chr(int(base_qual[i]) + 33) * n_aligned)
        cols["md_tag"].append(md)
        cols["has_alt"].append(bool(has_alt[i]))
        cols["alt_pos"].append(alt_pos)
        cols["alt_base"].append(alt_base)
        cols["base_qual"].append(int(base_qual[i]))
    schema = pa.schema([("sample_id", pa.string()), ("contig", pa.string()),
                        ("pos_start", pa.int32()), ("pos_end", pa.int32()),
                        ("mapq", pa.int32()), ("flag", pa.int32()), ("cigar", pa.string()),
                        ("seq", pa.string()), ("qual_str", pa.string()), ("md_tag", pa.string()),
                        ("has_alt", pa.bool_()), ("alt_pos", pa.int32()),
                        ("alt_base", pa.string()), ("base_qual", pa.int32())])
    _write(out_dir, "alignments", pa.table(cols, schema=schema), info)
    with open(os.path.join(out_dir, "ref.fa"), "w") as fa, \
            open(os.path.join(out_dir, "ref.fa.fai"), "w") as fai:
        offset = 0
        for c in range(d["contigs"]):
            name = str(c)
            hdr = f">{name}\n"
            fa.write(hdr)
            offset += len(hdr)
            line = _ref_slice(name, 1, d["contig_len"])
            fa.write(line + "\n")
            fai.write(f"{name}\t{d['contig_len']}\t{offset}\t{d['contig_len']}\t{d['contig_len'] + 1}\n")
            offset += len(line) + 1
    info["inputs"] = {"alignments": n}
    span = d["contigs"] * d["start_span"]
    info["properties"].update({
        "shape_source": RECORDED_DEPTH["source"],
        "reads_per_start_bp": n / span,
        "mean_depth": aligned / span,
        "mean_depth_recorded": RECORDED_DEPTH["aligned_bases"]
        / (RECORDED_DEPTH["contigs"] * RECORDED_DEPTH["start_span"]),
        "alt_read_frac": float(np.mean(has_alt)),
        "spliced_read_frac": float(np.mean(spliced)),
    })


def generate(workload, seed, out_dir):
    """Writes the workload's inputs under out_dir; returns their description."""
    os.makedirs(out_dir, exist_ok=True)
    info = {"workload": workload, "seed": seed, "tables": {}, "properties": {}}
    if workload in JOIN_WORKLOADS:
        gen_join(workload, seed, out_dir, info)
    elif workload == "depth":
        gen_depth(seed, out_dir, info)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return info
