"""The benchmark's workloads: which queries each runs, on which fixture
set, and why.

Every query is one the DuckDB oracle checks. Each workload is sized so
that a run (set-up, a first pass and the warm passes) takes under a
minute on four cores: a set-up alone costs 15-20 s there.
"""

WORKLOADS = {
    "iterative": {
        "why": "a loop-heavy graph operator: a hundred jobs per pass, much "
               "of wall is driver time between jobs, a localCheckpoint per round",
        "data": "sf0.01",
        "queries": ["q98_citation_pagerank"],
    },
    "relational_text": {
        "why": "a MAG pipeline, a per-row text kernel and persisted-index "
               "serving: few jobs each, task CPU and I/O bound, writes on first use",
        "data": "sf0.1",
        "queries": ["q264_personalnet_journey", "q49_name_edit_distance",
                    "q119_ann_ivf_indexed"],
    },
}
