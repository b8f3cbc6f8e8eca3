"""Spark plans: the extraction and curation pipelines, the session, the
checkpointed job and the manifest-commit protocol."""
