"""ML layer: feature pipeline, clustering algorithms, cluster-quality metrics.

Spark-first re-expression of the reference's clustering.py / metrics.py
(sklearn/kmodes/R) compute core. MLlib estimators where one exists;
quality metrics on the driver over a pattern table (no sklearn at
runtime).
"""
