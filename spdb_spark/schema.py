"""Fixed engine schemas: block table (1 row = 1 cuboid) and voxel table
(1 row = 1 voxel).

Design per SURVEY.md §1.3: spdb is a dense-array block store addressed by
(lookup_key, resolution, t, morton); here that key becomes plain columns, with
decoded cuboid-grid coords (x_idx, y_idx, z_idx) kept alongside for partition
pruning (reference key formats: kvio.py:52-109, object.py:338-363).
"""

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Block table: storage/ingest unit == spdb's S3 cuboid object. `ids` is the
# cuboid's sorted distinct non-zero ids in the int64 view (the reference's
# per-cuboid id set, object_indices.py:625-665), filled for 64-bit
# (annotation) cuboids and null otherwise; files written before the column
# read it as null.
CUBOID_SCHEMA = StructType(
    [
        StructField("lookup_key", StringType(), False),
        StructField("resolution", IntegerType(), False),
        StructField("t", LongType(), False),
        StructField("morton", LongType(), False),
        StructField("x_idx", IntegerType(), False),
        StructField("y_idx", IntegerType(), False),
        StructField("z_idx", IntegerType(), False),
        StructField("blob", BinaryType(), False),
        StructField("ids", ArrayType(LongType()), True),
    ]
)

# Voxel table: compute substrate for the operator inventory (SURVEY.md §2).
# uint8/uint16/uint64 all widen to signed long; 0 = background, never stored.
VOXEL_SCHEMA = StructType(
    [
        StructField("lookup_key", StringType(), False),
        StructField("resolution", IntegerType(), False),
        StructField("t", LongType(), False),
        StructField("x", LongType(), False),
        StructField("y", LongType(), False),
        StructField("z", LongType(), False),
        StructField("value", LongType(), False),
    ]
)

VOXEL_KEY = ("lookup_key", "resolution", "t", "x", "y", "z")
CUBOID_KEY = ("lookup_key", "resolution", "t", "morton")

# Materialized id index: which annotation ids appear in which cuboid
# (reference: the DynamoDB id-set attributes, object_indices.py:625-769).
# pgroup rides along so the index shares the data table's partitioning and
# prunes with it.
ID_INDEX_SCHEMA = StructType(
    [
        StructField("lookup_key", StringType(), False),
        StructField("resolution", IntegerType(), False),
        StructField("pgroup", IntegerType(), False),
        StructField("morton", LongType(), False),
        StructField("id", LongType(), False),
    ]
)
