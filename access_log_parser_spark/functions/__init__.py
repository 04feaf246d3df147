from .columns import (
    host_of_url,
    multiline_prefix,
)

__all__ = [
    "host_of_url",
    "multiline_prefix",
]
