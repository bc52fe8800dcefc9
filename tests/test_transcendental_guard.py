"""Transcendental guard-band audit (r13 verdict item 2).

Four oracled queries hash an output that passes through
``round(ln(...), k)``: psi_drift_docs, bm25_top_docs,
unigram_logprob_docs, bigram_logprob_docs. The quantize-the-ln
convention makes the cross-engine compare safe ONLY while every
rounded value sits a healthy distance from its rounding boundary —
if a value ever lands within ~1 double-ulp of ``x.xxxxx5``, the two
engines' last-bit ln differences could round it differently and a
red driver row would appear that no same-engine replica reproduces
(exactly the r13 psi_drift_docs incident shape). Nobody was
checking; this test makes the whole class structurally monitored.

For every rounded transcendental in those queries we recompute the
UNROUNDED value on the gate data (sf0.01 — the corpus the driver
hashes) and assert its distance to the nearest rounding boundary is
at least GUARD = 1e-6 units of the last kept digit. Calibration:
the failure mode needs a value within ~|cross-engine ln jitter| of
a boundary, i.e. ~1 double-ulp, which in last-digit units is
~2e-10 for the 6dp quantities and ~1e-12 for the 4dp averages —
GUARD leaves 3.5+ orders of margin above it. The floor must NOT be
set at the psi-style ~0.05 scale: a min over N independently
placed values sits at ~0.5/N, so per-doc families are *expected*
near 1e-4 at sf0.01 (measured r14: bm25 score 2.4e-4 over ~1.4k
matching docs, bigram 5.7e-4 over 5k docs — both healthy), and the
audit's job is to flag the ~1e-9 outlier, not the statistics of N.
Measured r14 floors (recorded in docs/SCALE.md): psi ln 3.2e-2,
psi product 6.8e-2, bm25 idf 2.5e-1, bm25 score 2.4e-4, unigram
1.2e-3, bigram 5.7e-4.

DuckDB computes the audit values: on identical IEEE expression
trees its doubles are bit-identical to Spark's (the registry's
standing determinism argument), and a driver-shaped session is not
needed to measure value positions.
"""

from __future__ import annotations

import duckdb
import pytest

from corral_spark.functions.text import TOKENIZE_SQL as _TOK_SQL
from corral_spark.queries.hygiene import _PSI_NBIN
from corral_spark.queries.retrieval import _BM25_B, _BM25_K1, _BM25_TERMS
from tests.conftest import SF_CORRECT

#: minimum allowed |frac(value * 10^k) - 0.5| — units of the last
#: kept digit. Cross-engine ln jitter is ~2e-10 of those units at
#: 6dp (~1e-12 at 4dp); 1e-6 keeps >3 orders of margin while
#: tolerating the ~0.5/N min-over-N statistics of the per-doc
#: families (see module docstring).
GUARD = 1e-6

_DIST = (
    "MIN(ABS(ABS({v} * {scale}) - FLOOR(ABS({v} * {scale})) - 0.5))"
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents",):
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    return c


def _min_dist(con, sql: str) -> float:
    (d,) = con.execute(sql).fetchone()
    assert d is not None
    return d


def test_psi_boundary_distances(con):
    # Mirrors the psi_drift_docs oracle up to the rounding sites:
    # the 6dp ln and the integer-micro product.
    base = f"""
    WITH long AS (
      SELECT 'n_chars_bin' AS feature, {_PSI_NBIN} AS bin,
             CASE WHEN CAST(substr(source, 4) AS INT) < 10
                  THEN 'ref' ELSE 'cur' END AS side
      FROM documents
      UNION ALL
      SELECT 'lang', lang,
             CASE WHEN CAST(substr(source, 4) AS INT) < 10
                  THEN 'ref' ELSE 'cur' END
      FROM documents
    ),
    cnts AS (
      SELECT feature, bin,
             CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
             CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
      FROM long GROUP BY feature, bin
    ),
    smoothed AS (
      SELECT feature, bin,
             (CAST(ref_cnt AS DOUBLE) + 0.5e0)
               / (CAST(SUM(ref_cnt) OVER (PARTITION BY feature) AS DOUBLE)
                  + 0.5e0 * CAST(COUNT(*) OVER (PARTITION BY feature) AS DOUBLE)) AS p,
             (CAST(cur_cnt AS DOUBLE) + 0.5e0)
               / (CAST(SUM(cur_cnt) OVER (PARTITION BY feature) AS DOUBLE)
                  + 0.5e0 * CAST(COUNT(*) OVER (PARTITION BY feature) AS DOUBLE)) AS q
      FROM cnts
    )
    """
    d_ln = _min_dist(
        con,
        base
        + "SELECT "
        + _DIST.format(v="ln(q / p)", scale="1000000")
        + " FROM smoothed",
    )
    d_prod = _min_dist(
        con,
        base
        + "SELECT "
        + _DIST.format(
            v="(q - p) * round(ln(q / p), 6) * 1000000", scale="1"
        )
        + " FROM smoothed",
    )
    assert d_ln >= GUARD, f"psi 6dp-ln boundary distance {d_ln}"
    assert d_prod >= GUARD, f"psi micro-product boundary distance {d_prod}"


def test_bm25_boundary_distances(con):
    tok = _TOK_SQL.format(col="text")
    tf_cols = ", ".join(
        f"CAST(len(list_filter({tok}, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    base = f"""
    WITH perdoc AS (
      SELECT doc_id, CAST(len({tok}) AS BIGINT) AS dl, {tf_cols}
      FROM documents WHERE text IS NOT NULL
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avg_dl,
             {", ".join(f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}" for i in range(len(_BM25_TERMS)))}
      FROM perdoc
    )
    """
    # The 3 per-corpus idf values at their 6dp quantization.
    idf_dists = [
        _min_dist(
            con,
            base
            + "SELECT "
            + _DIST.format(
                v=f"ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5))",
                scale="1000000",
            )
            + " FROM stats",
        )
        for i in range(len(_BM25_TERMS))
    ]
    # Every per-doc, per-matching-term micro score term.
    score_dists = [
        _min_dist(
            con,
            base
            + f"""
            SELECT {_DIST.format(v=(
                f"round(ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)), 6)"
                f" * (tf{i} * {_BM25_K1 + 1})"
                f" / (tf{i} + {_BM25_K1} * ({1 - _BM25_B} + {_BM25_B} * dl / avg_dl))"
                f" * 1000000"), scale="1")}
            FROM perdoc, stats WHERE tf{i} > 0
            """,
        )
        for i in range(len(_BM25_TERMS))
    ]
    assert min(idf_dists) >= GUARD, f"bm25 idf distances {idf_dists}"
    assert min(score_dists) >= GUARD, f"bm25 score distances {score_dists}"


def test_unigram_logprob_boundary_distance(con):
    tok = _TOK_SQL.format(col="text")
    d = _min_dist(
        con,
        f"""
        WITH tok AS (
          SELECT doc_id, unnest({tok}) AS term FROM documents
        ),
        counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts)
        SELECT {_DIST.format(v="avg_lp", scale="10000")}
        FROM (
          SELECT AVG(ln(CAST(cnt AS DOUBLE) / total)) AS avg_lp
          FROM tok JOIN counts USING (term), total
          GROUP BY doc_id
        )
        """,
    )
    assert d >= GUARD, f"unigram 4dp boundary distance {d}"


def test_bigram_logprob_boundary_distance(con):
    tok = _TOK_SQL.format(col="text")
    d = _min_dist(
        con,
        f"""
        WITH w AS (
          SELECT doc_id, {tok} AS words FROM documents
        ),
        bg AS (
          SELECT doc_id, words[i] || ' ' || words[i+1] AS b
          FROM w, unnest(range(1, len(words))) AS t(i)
          WHERE len(words) >= 2
        ),
        c2 AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY b),
        c1 AS (
          SELECT string_split(b, ' ')[1] AS w1, SUM(c2) AS c1
          FROM c2 GROUP BY 1
        ),
        v AS (
          SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vocab
          FROM (SELECT unnest(words) AS t FROM w)
        )
        SELECT {_DIST.format(v="avg_lp", scale="10000")}
        FROM (
          SELECT AVG(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vocab))) AS avg_lp
          FROM bg
          JOIN c2 USING (b)
          JOIN c1 ON string_split(bg.b, ' ')[1] = c1.w1, v
          GROUP BY bg.doc_id
        )
        """,
    )
    assert d >= GUARD, f"bigram 4dp boundary distance {d}"


def test_psi_probe_boundary_distances(con):
    # psi_drift_probe's added quantizations: p,q at 1e12 picos.
    # These are single IEEE divisions of exactly representable
    # operands — bit-identical on any IEEE engine — so the only
    # cross-engine risk is an exact .5 tie; any healthy distance
    # passes. (Measured r15: p 4.4e-2, q 4.9e-3 at sf0.01.) The
    # probe's lnr_micro = round(round(ln,6)*1e6) is integral by
    # construction (distance exactly 0.5) and the underlying 6dp ln
    # is covered by test_psi_boundary_distances.
    from corral_spark.queries.hygiene import _PSI_PROBE_BASE

    for v in ("p", "q"):
        d = _min_dist(
            con,
            _PSI_PROBE_BASE
            + "SELECT "
            + _DIST.format(v=v, scale="1e12")
            + " FROM smoothed",
        )
        assert d >= GUARD, f"psi probe {v} pico boundary distance {d}"
