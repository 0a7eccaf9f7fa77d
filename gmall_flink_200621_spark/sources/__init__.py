from .loaders import load_table  # noqa: F401
