from .dates import build_date_dim  # noqa: F401
