from rkmh_spark.plans.checkpoint import CheckpointManager

__all__ = ["CheckpointManager"]
