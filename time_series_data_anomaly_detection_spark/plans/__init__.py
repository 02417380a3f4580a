"""Query plans: ``pipelines`` (the production flows), the gate queries
by family in ``queries/`` (each ``q_<name>`` followed by its DuckDB
oracle ``o_<name>``), and ``registry``, the index that collects them.
Neither is imported here, so importing a pipeline does not build the
oracles."""
