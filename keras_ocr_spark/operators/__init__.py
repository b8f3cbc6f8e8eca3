"""DataFrame operators: stage-1 detection and the corpus-curation operators
that the registered queries compose."""
