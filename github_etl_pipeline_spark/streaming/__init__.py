"""Incremental and streaming runners; import each from its submodule."""
