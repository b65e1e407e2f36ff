"""Descriptor (vocabulary) enrichment.

The reference loads 7 descriptor vocabularies over REST into driver-side
HashMaps and rewrites code values to namespaced URIs row by row:
`uri = namespace + "#" + codeValue` on match, bare code passed through on
miss (/root/reference/banner-connector/src/main/java/org/edfi/sis/service/
SisConnectorService.java:489-516 addressType; same shape through :688).

Spark-first: the vocabulary is a small dimension DataFrame, broadcast-joined
against the fact side — at 100 TB the fact never shuffles for this join and
the dimension ships once per executor, not once per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_descriptor_uri(
    df: DataFrame,
    descriptors: DataFrame,
    *,
    code_col: str,
    out_col: str | None = None,
    descriptor_code_col: str = "codeValue",
    namespace_col: str = "namespace",
) -> DataFrame:
    """Rewrite `code_col` to `namespace#code`, keeping the bare code when the
    vocabulary has no entry (exact reference fallback semantics,
    SisConnectorService.java:510-516)."""
    out_col = out_col or code_col
    dim = descriptors.select(
        F.col(descriptor_code_col).alias("__code"),
        F.col(namespace_col).alias("__ns"),
    ).dropDuplicates(["__code"])
    joined = df.join(
        F.broadcast(dim), df[code_col] == F.col("__code"), "left"
    )
    uri = F.coalesce(
        F.concat(F.col("__ns"), F.lit("#"), df[code_col]), df[code_col]
    )
    keep = [c for c in df.columns if c != out_col]
    return joined.select(*keep, uri.alias(out_col))
