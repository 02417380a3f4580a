"""Gate queries by family: each module defines ``q_<name>(spark,
sf_dir) -> DataFrame`` and, right after it, its DuckDB oracle
``o_<name> = <SQL>``.  ``plans.registry`` collects both by prefix;
``_shared`` holds the helpers more than one family uses.

Conventions that make the gate's order-insensitive value hash match:

- every float output column is ``round(x, 6)`` on BOTH sides (Spark and
  DuckDB compute in float64 with the same formulas; rounding removes
  last-ulp jitter from different summation orders);
- rounding happens ONLY on final outputs, never on intermediates;
- column names are aliased identically on both sides;
- row identity is carried by (series_id, rn) instead of raw timestamps
  where possible (the testdata parquet is TIMESTAMP(NANOS); Spark reads
  µs, DuckDB ns);
- deterministic tie-breaking everywhere (ORDER BY ... , event_id);
- the portable hash of the training-data queries is
  ``int(md5(x)[:12], 16)`` — Spark ``conv(substring(md5(x),1,12),16,10)``
  ≡ DuckDB ``CAST('0x'||substr(md5(x),1,12) AS BIGINT)``;
- the tokenizer regex, stopword list, MinHash constants, and LSH band
  layout are literal-identical on both sides; pair outputs are keyed
  (id_a, id_b) with id_a < id_b.

The shared SQL fragments mirror the operator implementations 1:1 — see
each operator's docstring for the reference citation.
"""
