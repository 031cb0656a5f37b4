from youcruit_tap_rawpostgresql_spark.functions.hashing import hash64  # noqa: F401
from youcruit_tap_rawpostgresql_spark.functions.text_funcs import tokens  # noqa: F401
