"""Independent references for every query type of the graft benchmark.

Each check reads the generated inputs and the harness's result dump (one
parquet directory per query type) and compares them. References are DuckDB
SQL written from the queries' definitions (as graft's own DuckDB oracles
are). check() returns {query type: (ok, detail)}.
"""
import glob
import os

import duckdb

import gen

NEAREST_SAMPLE_EVERY = 1000   # nearest-k reference covers every 1000th read


def _result(con, results, name):
    files = glob.glob(os.path.join(results, name, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no result dump for {name}")
    con.execute(f"CREATE OR REPLACE VIEW got_raw AS SELECT * FROM read_parquet({files!r})")
    con.execute("CREATE OR REPLACE VIEW got AS SELECT * FROM got_raw")


def _same(con, ref_sql, cols):
    """Multiset equality of got(cols) and the reference query's cols."""
    sel = ", ".join(cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS SELECT {sel} FROM ({ref_sql})")
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_ref = con.execute("SELECT count(*) FROM ref").fetchone()[0]
    extra = con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM got EXCEPT ALL SELECT * FROM ref)").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (SELECT * FROM ref EXCEPT ALL SELECT {sel} FROM got)").fetchone()[0]
    ok = n_got == n_ref and extra == 0 and missing == 0 and n_ref > 0
    return ok, f"rows={n_got} ref={n_ref} extra={extra} missing={missing}"


def _guard(fn):
    try:
        return fn()
    except Exception as e:  # a check that cannot run is a failed check
        return False, f"{type(e).__name__}: {e}"


OVERLAP = "r.contig = f.contig AND r.pos_end >= f.pos_start AND r.pos_start <= f.pos_end"


def check_join(con, data, results):
    con.execute(f"CREATE VIEW reads AS SELECT * FROM read_parquet('{data}/reads.parquet')")
    con.execute(f"CREATE VIEW features AS SELECT * FROM read_parquet('{data}/features.parquet')")
    out = {}

    def count_per_feature():
        _result(con, results, "count_per_feature")
        return _same(con, f"SELECT f.b_key, count(*) AS n_reads FROM reads r JOIN features f ON {OVERLAP} "
                          "GROUP BY f.b_key", ["b_key", "n_reads"])

    def pairs():
        _result(con, results, "pairs")
        return _same(con, f"SELECT r.a_key, f.b_key FROM reads r JOIN features f ON {OVERLAP}",
                     ["a_key", "b_key"])

    def full_outer():
        _result(con, results, "full_outer")
        # Matched pairs plus the unmatched rows of each side: the full outer
        # join, written so DuckDB plans its range join instead of a nested loop.
        con.execute(f"CREATE OR REPLACE TEMP TABLE fo_in AS SELECT r.a_key, f.b_key FROM "
                    f"(SELECT * FROM reads WHERE contig = '{gen.FULL_OUTER_CONTIG}') r "
                    f"JOIN features f ON {OVERLAP}")
        return _same(con, f"""SELECT a_key, b_key FROM fo_in
            UNION ALL SELECT a_key, NULL FROM reads WHERE contig = '{gen.FULL_OUTER_CONTIG}'
              AND a_key NOT IN (SELECT a_key FROM fo_in)
            UNION ALL SELECT NULL, b_key FROM features WHERE b_key NOT IN (SELECT b_key FROM fo_in)""",
                     ["a_key", "b_key"])

    def nearest_k():
        _result(con, results, "nearest_k")
        probes = f"(SELECT * FROM reads WHERE a_key % {gen.NEAREST_READS_EVERY} = 0)"
        n_probes = con.execute(f"SELECT count(*) FROM {probes}").fetchone()[0]
        covered = con.execute("SELECT count(DISTINCT a_key) FROM got").fetchone()[0]
        con.execute(f"CREATE OR REPLACE VIEW got AS SELECT * FROM got_raw "
                    f"WHERE a_key % {NEAREST_SAMPLE_EVERY} = 0")
        ok, detail = _same(con, f"""
            SELECT a_key, b_key, distance FROM (
              SELECT r.a_key, f.b_key,
                CAST(GREATEST(f.pos_start - r.pos_end, r.pos_start - f.pos_end, 0) AS INT) AS distance,
                DENSE_RANK() OVER (PARTITION BY r.a_key
                  ORDER BY GREATEST(f.pos_start - r.pos_end, r.pos_start - f.pos_end, 0)) AS rk
              FROM (SELECT * FROM reads WHERE a_key % {NEAREST_SAMPLE_EVERY} = 0) r
              JOIN features f ON r.contig = f.contig)
            WHERE rk <= 3""", ["a_key", "b_key", "distance"])
        return ok and covered == n_probes, f"{detail} probes={n_probes} covered={covered} (sampled)"

    def stream_count():
        _result(con, results, "stream_count")
        return _same(con, f"""SELECT r.contig, r.pos_start, r.pos_end, count(f.b_key) AS n_overlaps
                             FROM reads r JOIN features f ON {OVERLAP}
                             GROUP BY r.a_key, r.contig, r.pos_start, r.pos_end""",
                     ["contig", "pos_start", "pos_end", "n_overlaps"])

    checks = [("count_per_feature", count_per_feature), ("pairs", pairs),
              ("full_outer", full_outer), ("nearest_k", nearest_k)]
    if os.path.isdir(os.path.join(results, "stream_count")):
        checks.append(("stream_count", stream_count))
    for name, fn in checks:
        out[name] = _guard(fn)
    return out


def check_depth(con, data, results):
    con.execute(f"CREATE VIEW aln AS SELECT * FROM read_parquet('{data}/alignments.parquet')")
    segs = """
      segs AS (
        SELECT contig, pos_start AS seg_start,
          pos_start + CAST(regexp_extract(cigar, '^(\\d+)M', 1) AS INT) - 1 AS seg_end FROM aln
        UNION ALL
        SELECT contig, pos_start + CAST(regexp_extract(cigar, '^(\\d+)M', 1) AS INT)
                         + CAST(regexp_extract(cigar, 'M(\\d+)N', 1) AS INT), pos_end
        FROM aln WHERE cigar LIKE '%N%'),
      positions AS (SELECT contig, unnest(generate_series(seg_start, seg_end)) AS pos FROM segs),
      cov AS (SELECT contig, pos, count(*) AS coverage FROM positions GROUP BY 1, 2)"""
    con.execute(f"CREATE TEMP TABLE cov AS WITH {segs} SELECT * FROM cov")
    blocks = """
      WITH runs AS (SELECT contig, pos, coverage,
              pos - ROW_NUMBER() OVER (PARTITION BY contig, coverage ORDER BY pos) AS grp FROM cov)
      SELECT contig, CAST(min(pos) AS INT) AS pos_start, CAST(max(pos) AS INT) AS pos_end,
             CAST(coverage AS INT) AS coverage FROM runs GROUP BY contig, coverage, grp"""
    windows = """
      SELECT contig, CAST((pos - 1) // 500 AS BIGINT) AS tile,
             round(CAST(sum(coverage) AS DOUBLE) / 500, 9) AS mean_coverage
      FROM cov GROUP BY 1, 2"""
    pileup = """
      WITH alt1 AS (SELECT contig, alt_pos AS pos, alt_base AS base, base_qual FROM aln WHERE has_alt),
      perbase AS (SELECT contig, pos, base, count(*) AS cnt FROM alt1 GROUP BY 1, 2, 3),
      perpos AS (SELECT contig, pos, CAST(sum(cnt) AS BIGINT) AS count_nonref,
                   string_agg(base || ' -> ' || cnt, ', ' ORDER BY base) AS alts
                 FROM perbase GROUP BY 1, 2)
      SELECT p.contig, CAST(p.pos AS INT) AS pos,
             substr('ACGT', (ascii(p.contig) + p.pos) % 4 + 1, 1) AS ref,
             CAST(c.coverage AS INT) AS coverage,
             CAST(c.coverage - p.count_nonref AS BIGINT) AS count_ref, p.count_nonref, p.alts
      FROM perpos p JOIN cov c ON p.contig = c.contig AND p.pos = c.pos"""
    out = {}

    def cov_blocks():
        _result(con, results, "coverage_blocks_bam")
        return _same(con, blocks, ["contig", "pos_start", "pos_end", "coverage"])

    def cov_windows():
        _result(con, results, "coverage_windows_cram")
        con.execute("CREATE OR REPLACE VIEW got AS SELECT contig, CAST(tile AS BIGINT) AS tile, "
                    "round(mean_coverage, 9) AS mean_coverage FROM got_raw")
        return _same(con, windows, ["contig", "tile", "mean_coverage"])

    def pile(name):
        _result(con, results, name)
        return _same(con, pileup, ["contig", "pos", "ref", "coverage", "count_ref", "count_nonref", "alts"])

    out["coverage_blocks_bam"] = _guard(cov_blocks)
    out["coverage_windows_cram"] = _guard(cov_windows)
    out["pileup_bam"] = _guard(lambda: pile("pileup_bam"))
    out["pileup_cram"] = _guard(lambda: pile("pileup_cram"))
    return out


def check(workload, data, results):
    con = duckdb.connect(config={"threads": 4})
    try:
        if workload in gen.JOIN_WORKLOADS:
            return check_join(con, data, results)
        if workload == "depth":
            return check_depth(con, data, results)
        raise ValueError(f"unknown workload {workload!r}")
    finally:
        con.close()
