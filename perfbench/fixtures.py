"""Seeded input generators for the benchmark, written with DuckDB: the
IMDB-shaped JOB fixture and the fact/mid/dim cascade fixture.

The fixture is a pure function of ``(seed, size)``: every foreign key
and year is ``hash(i + salt)`` with the seed folded into the salt, and
every other column is modulus arithmetic, so the same seed writes the
same rows. Each table is a directory of ``PARTS`` parquet files cut
from fixed ``i`` ranges, so Spark reads it with the same number of
tasks on every run (DuckDB's per-thread output would make the file
split depend on thread scheduling).
"""

from __future__ import annotations

import os

#: files per table: one per core of the 4-core machine the benchmark
#: is sized for, so the first scan stage of every table has full width
PARTS = 4

#: word pool for LIKE-able payloads (the JOB-regime fixture's pool);
#: frequencies are exact through the modulus arithmetic below
WORDS = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon").split()


def _salt(seed: int, k: int) -> int:
    # distinct per (seed, column) salts; large odd multipliers keep the
    # hash inputs of different columns and seeds far apart
    return seed * 1_000_003 + k * 7_919


def _copy(con, out_dir: str, name: str, n: int, select: str) -> None:
    """Write ``select`` over ``i`` in [1, n] as PARTS files under
    ``out_dir/name.parquet/``."""
    d = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    step = -(-n // PARTS)
    for p in range(PARTS):
        lo, hi = 1 + p * step, min(n, (p + 1) * step)
        if lo > hi:
            break
        con.sql(f"COPY ({select.format(lo=lo, hi=hi)}) "
                f"TO '{d}/part-{p}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE 262144)")


def _connect(tmp_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads={threads}")
    con.sql(f"SET temp_directory='{tmp_dir}'")
    return con


# -- JOB-shaped IMDB fixture ----------------------------------------------

def job_sizes(fact: int) -> dict:
    """Table sizes for ``fact`` castinfo rows (tools/job_regime.py's
    ratios)."""
    return {"title": max(1000, fact // 40), "company": max(200, fact // 200),
            "keyword": max(100, fact // 700), "person": max(500, fact // 100),
            "castinfo": fact, "movie_company": fact // 4,
            "movie_keyword": fact // 3, "movie_info": fact // 5}


def _cap(expr: str) -> str:
    return f"(upper(substr({expr}, 1, 1)) || substr({expr}, 2))"


def write_job(out_dir: str, seed: int, fact: int, tmp_dir: str,
              threads: int) -> dict:
    """The IMDB-shaped schema of ``tools/job_regime.py`` (all join keys
    strings, integer twin keys on title/company), with the seed in every
    foreign-key and year salt. Marker values keep their exact
    frequencies under any seed: keyword 77 is 'sequel', 78 is
    'based-on-novel', every 500th is 'character-name-in-title', and
    every other keyword is the single row '<word>-<i % 997>'."""
    n = job_sizes(fact)
    nt, nc, nk, np_ = n["title"], n["company"], n["keyword"], n["person"]
    wl = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    cap1 = _cap(f"list_extract({wl}, 1 + i % 20)")
    cap2 = _cap(f"list_extract({wl}, 1 + (i // 11) % 20)")
    cap3 = _cap(f"list_extract({wl}, 1 + (i // 13) % 20)")
    s = [_salt(seed, k) for k in range(12)]
    con = _connect(tmp_dir, threads)
    try:
        _copy(con, out_dir, "title", nt, f"""
          SELECT 't_' || lpad(i::VARCHAR, 9, '0') AS t_id,
                 i::BIGINT AS t_id_i,
                 'kind_' || (i % 10) AS t_kind,
                 (1950 + (hash(i + {s[0]}) % 70))::INT AS t_year,
                 'The ' || list_extract({wl}, 1 + i % 20) || ' ' ||
                 list_extract({wl}, 1 + (i // 7) % 20) ||
                 CASE WHEN i % 50 = 7 THEN ' Returns' ELSE '' END AS t_title
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "company", nc, f"""
          SELECT 'co_' || lpad(i::VARCHAR, 7, '0') AS co_id,
                 i::BIGINT AS co_id_i,
                 CASE WHEN i % 100 = 3 THEN 'Warner '
                      WHEN i % 100 = 4 THEN 'Universal '
                      ELSE '' END || {cap1} || ' ' || {cap2} || ' Pictures'
                   AS co_name,
                 CASE WHEN i % 10 < 3 THEN '[us]'
                      WHEN i % 10 < 5 THEN '[de]'
                      WHEN i % 10 < 7 THEN '[fr]'
                      ELSE '[' || list_extract({wl}, 1 + i % 13) || ']'
                 END AS co_country
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "keyword", nk, f"""
          SELECT 'kw_' || lpad(i::VARCHAR, 7, '0') AS kw_id,
                 CASE WHEN i = 77 THEN 'sequel'
                      WHEN i = 78 THEN 'based-on-novel'
                      WHEN i % 500 = 9 THEN 'character-name-in-title'
                      ELSE list_extract({wl}, 1 + i % 20) || '-' ||
                           (i % 997)::VARCHAR END AS kw_word
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "person", np_, f"""
          SELECT 'p_' || lpad(i::VARCHAR, 8, '0') AS p_id,
                 {cap1} || ', ' || {cap3} AS p_name
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "castinfo", fact, f"""
          SELECT i::BIGINT AS ci_id,
                 't_' || lpad((1 + (hash(i + {s[1]}) % {nt}))::VARCHAR, 9, '0')
                   AS ci_tid,
                 (1 + (hash(i + {s[1]}) % {nt}))::BIGINT AS ci_tid_i,
                 'p_' || lpad((1 + (hash(i + {s[2]}) % {np_}))::VARCHAR, 8, '0')
                   AS ci_pid,
                 'role_' || (i % 11) AS ci_role
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "movie_company", fact // 4, f"""
          SELECT 't_' || lpad((1 + (hash(i + {s[3]}) % {nt}))::VARCHAR, 9, '0')
                   AS mc_tid,
                 (1 + (hash(i + {s[3]}) % {nt}))::BIGINT AS mc_tid_i,
                 'co_' || lpad((1 + (hash(i + {s[4]}) % {nc}))::VARCHAR, 7, '0')
                   AS mc_coid,
                 (1 + (hash(i + {s[4]}) % {nc}))::BIGINT AS mc_coid_i,
                 CASE WHEN i % 20 = 3 THEN '(presents) (co-production)'
                      WHEN i % 20 = 4 THEN '(as metro pictures)'
                      ELSE '(' || (i % 1009)::VARCHAR || ')' END AS mc_note
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "movie_keyword", fact // 3, f"""
          SELECT 't_' || lpad((1 + (hash(i + {s[5]}) % {nt}))::VARCHAR, 9, '0')
                   AS mk_tid,
                 (1 + (hash(i + {s[5]}) % {nt}))::BIGINT AS mk_tid_i,
                 'kw_' || lpad((1 + (hash(i + {s[6]}) % {nk}))::VARCHAR, 7, '0')
                   AS mk_kwid
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        # skewed string FK: 30% of rows hit 1,000 hot titles
        _copy(con, out_dir, "movie_info", fact // 5, f"""
          SELECT CASE WHEN i % 10 < 3
                      THEN 't_' || lpad((1 + (hash(i * 7 + {s[7]}) % 1000))
                                        ::VARCHAR, 9, '0')
                      ELSE 't_' || lpad((1 + (hash(i + {s[8]}) % {nt}))
                                        ::VARCHAR, 9, '0')
                 END AS mi_tid,
                 CASE WHEN i % 25 = 3 THEN 'rating: ' || (i % 10)::VARCHAR
                      WHEN i % 25 = 4 THEN 'runtime: ' || (60 + i % 120)::VARCHAR
                      ELSE 'info-' || (i % 499)::VARCHAR END AS mi_info,
                 (1950 + (hash(i + {s[9]}) % 70))::INT AS mi_year
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
    finally:
        con.close()
    return n


# -- fact -> mid -> dim cascade fixture -------------------------------------

def cascade_sizes(fact: int) -> dict:
    """Table sizes for ``fact`` fact rows. mid is a fifth of the fact, so
    at the benchmark's size it clears the default config's 400k-row
    all-broadcast gate; dim is a tenth of mid (``workload/cascade.py``'s
    ratio)."""
    return {"fact": fact, "mid": fact // 5, "dim": fact // 50}


def write_cascade(out_dir: str, seed: int, fact: int, tmp_dir: str,
                  threads: int) -> dict:
    """The schema ``workload/cascade.run_cascade`` reads, with seeded
    hash foreign keys. ``d_seg`` is ``hash % 10``, so the query's
    ``d_seg = 0`` keeps about a tenth of dim, and through it of mid and
    fact. ``f_amount`` is DECIMAL, so the query's SUM is exact and
    digests compare across engines and join orders."""
    n = cascade_sizes(fact)
    nm, nd = n["mid"], n["dim"]
    s = [_salt(seed, k) for k in range(20, 26)]
    con = _connect(tmp_dir, threads)
    try:
        _copy(con, out_dir, "dim", nd, f"""
          SELECT i::BIGINT AS d_dk,
                 (hash(i + {s[0]}) % 10)::INT AS d_seg,
                 md5(i::VARCHAR) AS d_name
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        # ~40-byte pad: a payload column that survives to the output, so
        # the mid side of the final join stays wide
        _copy(con, out_dir, "mid", nm, f"""
          SELECT i::BIGINT AS m_mk,
                 (1 + hash(i + {s[1]}) % {nd})::BIGINT AS m_dk,
                 md5((i + {s[2]})::VARCHAR) ||
                 substr(md5((i + {s[3]})::VARCHAR), 1, 8) AS m_pad
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
        _copy(con, out_dir, "fact", fact, f"""
          SELECT (1 + hash(i + {s[4]}) % {nm})::BIGINT AS f_mk,
                 ((i % 1000) / 10)::DECIMAL(9, 1) AS f_amount,
                 (i % 100)::INT AS f_cat,
                 md5((i + {s[5]})::VARCHAR) AS f_pad
          FROM generate_series({{lo}}, {{hi}}) s(i)""")
    finally:
        con.close()
    return n
