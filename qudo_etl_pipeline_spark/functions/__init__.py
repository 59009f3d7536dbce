from qudo_etl_pipeline_spark.functions.stats import chi2_sf
from qudo_etl_pipeline_spark.functions.hashing import hash64, token_hash64

__all__ = ["chi2_sf", "hash64", "token_hash64"]
