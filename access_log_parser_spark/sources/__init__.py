from .text import docs_from_files, docs_from_string, explode_lines
from .ziparchive import docs_from_zip_entries

__all__ = [
    "docs_from_files",
    "docs_from_string",
    "docs_from_zip_entries",
    "explode_lines",
]
