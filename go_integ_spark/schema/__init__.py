from go_integ_spark.schema.stream import Field, StreamSchema, SortOrder
from go_integ_spark.schema.catalog import Catalog

__all__ = ["Field", "StreamSchema", "SortOrder", "Catalog"]
