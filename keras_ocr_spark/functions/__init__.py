"""Column functions built from Spark built-ins: the decoder twin (``text``),
hashing and numeric helpers."""
