"""Input tables: the transcript generator and goldens, versioned snapshots
and file-format round trips."""
