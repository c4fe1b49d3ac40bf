from .tables import TABLES, load_table  # noqa: F401
