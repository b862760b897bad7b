"""GeoIP + cloud-metadata enrichment (dedicated implementations of the
reference's processor_geoip and processor_cloudmeta).

* geoip_enrich — plugins/processor/geoip/processor_geoip.go:33-160:
  the reference resolves each event's IP against a local mmdb City
  database and appends ``<key>_city_ / _province_ / _country_ /
  _country_code_`` keys. No mmdb reader ships in this container, and
  the faithful DISTRIBUTED shape is different anyway: a GeoIP database
  is a table of disjoint integer IP ranges, so the lookup is a
  **broadcast range join** — the geo table (a few hundred MB at full
  GeoLite scale, far under broadcast limits once pruned to the 4
  output columns) broadcasts to every executor and each row binary-
  searches its range locally; the 100 TB fact side never shuffles.

* cloud_meta_tags — plugins/processor/cloudmeta/cloud_meta.go:34-120 +
  pkg/helper/platformmeta: inject ``__cloud_instance_id__``-family
  columns. Platform introspection (ECS/EC2 metadata HTTP endpoints) is
  driver-side and environment-specific; here the provider is a plain
  dict (the reference's "mock" platform), with real providers slotting
  in behind the same key set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sqltext

__all__ = ["ip_to_long", "geoip_enrich", "cloud_meta_tags", "CLOUD_META_KEYS"]

# pkg/helper/platformmeta/interface.go:18-25 key set
CLOUD_META_KEYS = [
    "__cloud_instance_id__",
    "__cloud_instance_name__",
    "__cloud_instance_region__",
    "__cloud_instance_zone__",
    "__cloud_instance_type__",
    "__cloud_instance_tags__",
]


def ip_to_long(col):
    """Dotted-quad IPv4 → long, pure JVM expressions (NULL for
    malformed addresses — the reference skips un-parseable IPs,
    processor_geoip.go:126-132)."""
    parts = F.split(col, r"\.")
    valid = (F.size(parts) == 4) & col.rlike(
        r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$"
    )
    octets = [F.get(parts, i).cast("long") for i in range(4)]
    in_range = valid
    for o in octets:
        in_range = in_range & (o <= 255)
    val = octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
    return F.when(in_range, val)


def geoip_enrich(
    df: DataFrame,
    source_key: str,
    geo_dim: DataFrame,
    *,
    start_col: str = "ip_start",
    end_col: str = "ip_end",
    fields: tuple[str, ...] = ("city", "province", "country", "country_code"),
) -> DataFrame:
    """Append ``<source_key>_<field>_`` columns by broadcast range
    join: ``ip_long BETWEEN ip_start AND ip_end`` against the geo
    table (rows = disjoint CIDR ranges with the field columns).

    Output key naming mirrors the reference exactly
    (processor_geoip.go:140-158: ``<key>_city_`` etc.). Rows with
    unmatched or malformed IPs keep NULLs (the reference appends
    nothing; a fixed schema's analog of an absent key)."""
    sel = geo_dim.select(
        sqltext.col(start_col).alias("__gs"),
        sqltext.col(end_col).alias("__ge"),
        *[sqltext.col(f).alias(f"__g_{f}") for f in fields],
    )
    ipl = ip_to_long(sqltext.col(source_key))
    joined = df.withColumn("__ipl", ipl).join(
        F.broadcast(sel),
        (F.col("__ipl") >= F.col("__gs")) & (F.col("__ipl") <= F.col("__ge")),
        "left",
    )
    joined = joined.withColumns(
        {f"{source_key}_{f}_": sqltext.col(f"__g_{f}") for f in fields}
    )
    return joined.drop("__ipl", "__gs", "__ge", *[f"__g_{f}" for f in fields])


def cloud_meta_tags(
    df: DataFrame,
    metadata: dict[str, str],
    *,
    rename: dict[str, str] | None = None,
) -> DataFrame:
    """Inject cloud instance metadata as constant columns (driver-side
    resolution, codegen literals at scale — cloud_meta.go:60-96 with
    the mock platform's semantics; key renaming per its Metadata
    name mapping)."""
    rename = rename or {}
    cols = {
        rename.get(k, k): F.lit(metadata[k]) for k in CLOUD_META_KEYS if k in metadata
    }
    return df.withColumns(cols) if cols else df
