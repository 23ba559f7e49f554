"""Routing kernel + scenario engines (criticality, EAUL).

The reference implements these with OSRM contraction hierarchies and
docker-in-docker rebuilds per scenario (scripts/criticality/,
script-eaul/). Here the graph is an immutable broadcast edge list; each
scenario is a row of a DataFrame; `applyInPandas` runs a numpy Dijkstra
kernel with per-scenario edge masks — no graph rebuilds, scenarios
parallelize across the cluster. Criticality runs that fan-out in one
pass, collects the small per-way stats and scores them on the driver
(the score needs maxima over all ways).
"""
