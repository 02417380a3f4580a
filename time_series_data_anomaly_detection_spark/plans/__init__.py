"""Query plans: ``pipelines`` (the production flows) and the gate
registry (``registry``, ``registry_datapipe``).  The registry is not
imported here, so importing a pipeline does not build the oracles."""
