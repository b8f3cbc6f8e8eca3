from .text import decode_expr

__all__ = ["decode_expr"]
