"""Round-9 pins: the advisor's semdedup-oracle robustness items.

1. The flat-oracle depth guard: the scaled semdedup queries certify
   against the flat k=8 DuckDB oracle, valid only while
   auto_depth(n)==1; oversized corpora must warn with the cause named.
2. The incremental-oracle centroid-packing assertion: an empty cluster
   after the mean-update re-assign must fail LOUDLY in DuckDB, not
   misalign the positionally packed centroids.

Pure-Python + DuckDB tests; no SparkSession.
"""

from __future__ import annotations

import pytest


class TestFlatOracleDepthGuard:
    def test_depth1_silent(self, recwarn):
        from sales_data_pipeline_spark.queries.llm import (
            _flat_oracle_depth_guard,
        )

        assert (
            _flat_oracle_depth_guard("q", 3200, branch=8, target=400) == 1
        )
        assert not [
            w for w in recwarn.list if "auto_depth" in str(w.message)
        ]

    def test_oversized_corpus_warns_with_cause(self):
        from sales_data_pipeline_spark.queries.llm import (
            _flat_oracle_depth_guard,
        )

        with pytest.warns(UserWarning, match="flat k=8 DuckDB oracle"):
            depth = _flat_oracle_depth_guard(
                "q", 5000, branch=8, target=400
            )
        assert depth == 2


class TestIncrOracleCentroidAssertion:
    def test_packed_length_mismatch_errors_loudly(self):
        """Shrink the oracle to k=2, dim=2 and feed an a1 where cluster
        1 is EMPTY: the cp2 CTE must raise the named error instead of
        silently misaligning cluster 1's centroid slice."""
        import re

        import duckdb

        from sales_data_pipeline_spark.queries.llm import (
            _semdedup_incr_oracle,
        )

        sql = _semdedup_incr_oracle(k=2, dim=2)
        m = re.search(r"cp2 AS \((?:[^()]|\([^()]*\))*\)", sql, re.DOTALL)
        assert m, "cp2 CTE not found in oracle SQL"
        cp2_body = m.group(0)
        con = duckdb.connect()
        try:
            # both rows in cluster 0 -> cent2 has 1*dim rows, not k*dim
            probe = f"""
                WITH a1 AS (
                  SELECT * FROM (VALUES
                    (1, [1.0, 2.0], 0), (2, [3.0, 4.0], 0)
                  ) AS t(vec_id, embedding, cluster)
                ),
                comps2 AS (
                  SELECT cluster, u.pos AS pos,
                         CAST(u.val * 1000000 AS BIGINT) AS scaled
                  FROM a1,
                       LATERAL (SELECT unnest(embedding) AS val,
                                generate_subscripts(embedding, 1) AS pos) u
                ),
                cent2 AS (
                  SELECT cluster, pos,
                         CAST(SUM(scaled) AS BIGINT) / 1000000.0 / COUNT(*)
                           AS cval
                  FROM comps2 GROUP BY cluster, pos
                ),
                {cp2_body}
                SELECT len(cents2) FROM cp2
            """
            with pytest.raises(Exception, match="cluster emptied"):
                con.execute(probe).fetchall()
            # sanity: with both clusters populated the same CTE passes
            ok = probe.replace(
                "(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 0)",
                "(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 1)",
            )
            assert con.execute(ok).fetchall() == [(4,)]
        finally:
            con.close()
