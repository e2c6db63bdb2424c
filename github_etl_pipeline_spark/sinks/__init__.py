"""Output writers; import each from its submodule."""
