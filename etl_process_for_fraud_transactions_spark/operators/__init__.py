from .scd2 import scd2_bootstrap, scd2_apply  # noqa: F401
