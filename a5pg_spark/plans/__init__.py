from . import partitioning  # noqa: F401
