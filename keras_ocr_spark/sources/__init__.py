"""Input tables: the transcript generator and goldens, versioned snapshots,
file-format round trips and reference-format loaders."""
