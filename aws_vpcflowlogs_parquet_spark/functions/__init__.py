from .casts import exact_avg, exact_sum, zero_default_cast  # noqa: F401
