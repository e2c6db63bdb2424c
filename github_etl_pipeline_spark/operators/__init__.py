"""Operator modules; import each from its submodule."""
