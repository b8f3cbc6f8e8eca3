from .detect import detect, propose_spans_udf
from .fused import decode_reassemble_fused

__all__ = [
    "decode_reassemble_fused",
    "detect",
    "propose_spans_udf",
]
