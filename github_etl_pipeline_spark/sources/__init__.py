"""Input readers; import each from its submodule."""
