from .core import (  # noqa: F401
    any_attr_differs,
    comma_decimal,
    ddmmyyyy_to_date,
    epoch_us,
    null_safe_concat_ws,
    open_ended_date,
)
