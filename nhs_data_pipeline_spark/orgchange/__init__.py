"""Org-change subsystem: successor transitive closure and the
org-change adjustment composite transformer."""

from nhs_data_pipeline_spark.orgchange.closure import successor_closure  # noqa: F401
from nhs_data_pipeline_spark.orgchange.adjust import adjust_org_changes  # noqa: F401
