from .numeric import davg, ratio
from .maps import recode_map

__all__ = ["davg", "ratio", "recode_map"]
