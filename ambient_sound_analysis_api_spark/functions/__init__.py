from .scalars import (  # noqa: F401
    bucket_epoch,
    is_finite,
    iso_format,
    normalize_hydrophone,
    second_of_day,
    time_bucket,
    tod_bucket,
)
