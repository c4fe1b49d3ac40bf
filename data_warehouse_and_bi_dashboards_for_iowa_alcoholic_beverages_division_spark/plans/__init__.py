from .warehouse import fact_sales  # noqa: F401
