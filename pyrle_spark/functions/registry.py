"""Combined query/oracle registry for the functions package."""

from __future__ import annotations

from pyrle_spark.functions import dedup, multimodal, similarity, sketch, text

QUERIES = {}
ORACLE_SQL = {}
for mod in (text, dedup, similarity, multimodal, sketch):
    QUERIES.update(mod.QUERIES)
    ORACLE_SQL.update(mod.ORACLE_SQL)
