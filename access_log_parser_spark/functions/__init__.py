from .columns import host_of_url

__all__ = ["host_of_url"]
