from .cf_logs import parse_log_lines, decode_kinesis_payload  # noqa: F401
from .tables import load_table, load_tables, register_views  # noqa: F401
