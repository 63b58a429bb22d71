"""Incremental execution: per-partition lineage manifests (checkpoint /
resume) and event-time window aggregation."""
