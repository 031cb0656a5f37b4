from youcruit_tap_rawpostgresql_spark.operators.conform import conform  # noqa: F401
from youcruit_tap_rawpostgresql_spark.operators.flatten import flatten_struct_columns  # noqa: F401
from youcruit_tap_rawpostgresql_spark.operators.incremental import (  # noqa: F401
    apply_replication_filter,
    resolve_starting_bookmark,
)
from youcruit_tap_rawpostgresql_spark.operators.maps import apply_stream_map  # noqa: F401
