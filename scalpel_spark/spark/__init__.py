from .extract import extract_records, selector_prefilter
from .session import get_spark

__all__ = ["extract_records", "selector_prefilter", "get_spark"]
