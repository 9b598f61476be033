from .flowlog import parse_flowlog_lines  # noqa: F401
from .events import targets_from_event  # noqa: F401
from .tables import TABLE_NAMES, load_table  # noqa: F401
