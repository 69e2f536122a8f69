"""protosc_spark — a from-scratch PySpark-native feature-engineering engine.

Re-expresses the capabilities of UtrechtUniversity/protosc (reference at
/root/reference, a single-machine numpy feature-matrix library) as a
distributed, point-in-time-correct engine over conversation-transcript
tables:

* stable turn ordering + dedup           (ordering.py)
* lag/lead/backfill/rolling/sessionize   (windows.py)
* as-of (point-in-time) joins            (asof.py)
* vectorized per-turn feature extraction (extract.py, features/)
* distributed sufficient-statistics stats: Kruskal-Wallis chi-square,
  Pearson correlation via Gramian        (stats.py)
* protosc-parity filter-model selection  (select.py, models/)
* large-scale corpus ops: dedup, similarity search, text analysis
  (dedup.py, similarity.py, textops.py)

Everything is DataFrame-first: Catalyst handles pushdown/pruning; Python
appears only in Arrow-vectorized pandas/Arrow UDFs, never per-row.
"""

__version__ = "0.1.0"
