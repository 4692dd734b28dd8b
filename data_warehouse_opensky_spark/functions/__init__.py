from .exact import bp, cents
from .casts import strict_bool, try_double, try_int
from .geo import haversine_km

__all__ = [
    "bp",
    "cents",
    "strict_bool",
    "try_double",
    "try_int",
    "haversine_km",
]
