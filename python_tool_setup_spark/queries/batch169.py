"""Gate batch 169: latest-file discovery (q554, S12).

The reference downloads the newest object under an S3 prefix by
paginating ``list_objects_v2`` and keeping the max ``LastModified``
(reference ``aws_utils/package1/test.py:94-121``). q554 lands three JSON
cuts of ``customer`` under one staging prefix, stamps each with its own
modification time, and reads the newest through
``sources.files.read_latest_file``: an argmax over a ``binaryFile``
metadata scan, then a JSON read of that one file.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from python_tool_setup_spark.queries import register
from python_tool_setup_spark.sources.files import read_latest_file
from python_tool_setup_spark.staging import staging_dir
from python_tool_setup_spark.tables import load_table

# Modification time of cut i (epoch seconds): cut 1 is the newest, and
# the cuts land in key order, so the last file written is not the newest.
_MTIMES = (1_700_007_200, 1_700_010_800, 1_700_003_600)


@register(
    "q554_latest_file",
    """
    SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 3 = 1
    """,
    doc="Latest-file discovery (S12): three JSON cuts of customer "
    "(c_custkey % 3) land under one prefix with set mtimes; "
    "read_latest_file picks the newest by modificationTime (max_by over "
    "a binaryFile metadata scan, no driver-side listing loop) and reads "
    "only that file. Oracle: the same cut straight from the fixture.",
)
def q554_latest_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        (F.col("c_custkey") % 3).alias("cut"),
    )
    cuts = staging_dir("latest_cuts_")
    # one job writes all three cuts, one file each
    cust.coalesce(1).write.mode("overwrite").partitionBy("cut").json(cuts)
    landing = staging_dir("latest_")
    for i, mtime in enumerate(_MTIMES):
        (part,) = glob.glob(os.path.join(cuts, f"cut={i}", "part-*.json"))
        dst = os.path.join(landing, f"cut_{i}.json")
        os.replace(part, dst)
        os.utime(dst, (mtime, mtime))
    return read_latest_file(spark, landing)
