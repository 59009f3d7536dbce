"""ML layer: feature pipeline, clustering algorithms, cluster-quality metrics.

Spark-first re-expression of the reference's clustering.py / metrics.py
(sklearn/kmodes/R) compute core. Every family fits, and the quality
metrics run, on the driver over weighted answer-pattern tables (no
sklearn or MLlib at runtime).
"""
