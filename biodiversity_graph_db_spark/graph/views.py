"""SQL surface for the evidence graph: register the graph tables and the
reference's canonical read views as Spark SQL temp views, so the whole
§3.3 read path is available to plain ``spark.sql`` users — the engine's
"query language" (the reference has none; SQL is the Spark-native one).

Views registered by :func:`register_graph_views` (default prefix
``graph_``):

- ``graph_nodes`` / ``graph_edges``       — the two base tables
- ``graph_index``                         — S2 master node index
                                            (atom-index.json projection)
- ``graph_timeline_extent``               — W2: earliest/latest cal yr BP
                                            per timeline
- ``graph_evidence_extract``              — the §3.3 extract view
                                            (Library.fs:842-902,
                                            1900-1921): timeline card +
                                            hyperedge star, one row per
                                            (source, timeline, hyperedge)
- ``graph_viz_nodes`` / ``graph_viz_edges`` — GraphVisualisation element
                                            extraction (Library.fs:7-33):
                                            display-name-labelled nodes
                                            and indexed (source, sink)
                                            edge pairs, ready for any
                                            Cytoscape-style renderer
                                            (edge ids are md5 of the
                                            edge tuple — deterministic
                                            and shuffle-free, unlike the
                                            reference's order-dependent
                                            Seq.mapi counter, which would
                                            need a global sort at scale)

All views are plain chained equi-joins over the base tables, so Catalyst
applies the same pushdown/broadcast planning as the DataFrame forms
(operators/graph_queries.py); the two forms are the same logical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from biodiversity_graph_db_spark import storage

_TIMELINE_EXTENT = """
CREATE OR REPLACE TEMPORARY VIEW {p}timeline_extent AS
SELECT e.source_key AS timeline_key,
       MIN(CASE WHEN e.relation IN
             ('ExtentEarliest', 'ExtentEarliestSpecified',
              'ExtentEarliestHarmonised') THEN y.year_value END) AS earliest,
       MAX(CASE WHEN e.relation IN
             ('ExtentLatest', 'ExtentLatestSpecified',
              'ExtentLatestHarmonised') THEN y.year_value END) AS latest
FROM {p}edges e
JOIN {p}nodes y ON y.key = e.sink_key AND y.node_type = 'CalYearNode'
WHERE e.relation LIKE 'Extent%'
GROUP BY e.source_key
"""

_EVIDENCE_EXTRACT = """
CREATE OR REPLACE TEMPORARY VIEW {p}evidence_extract AS
SELECT t.source_key,
       t.sink_key                AS timeline_key,
       ctxn.pretty_name          AS context,
       ext.earliest,
       ext.latest,
       hp.sink_key               AS hyperedge_key,
       pxn.pretty_name           AS proxy,
       imn.pretty_name           AS method,
       txn.pretty_name           AS taxon,
       o.pretty_name             AS outcome
FROM {p}edges t
LEFT JOIN {p}edges loc
       ON loc.source_key = t.sink_key AND loc.relation = 'IsLocatedAt'
LEFT JOIN {p}nodes ctxn ON ctxn.key = loc.sink_key
LEFT JOIN {p}timeline_extent ext ON ext.timeline_key = t.sink_key
JOIN {p}edges hp
       ON hp.source_key = t.sink_key AND hp.relation = 'HasProxyInfo'
JOIN {p}edges inf
       ON inf.source_key = hp.sink_key AND inf.relation = 'InferredFrom'
JOIN {p}nodes pxn ON pxn.key = inf.sink_key
JOIN {p}edges inu
       ON inu.source_key = hp.sink_key AND inu.relation = 'InferredUsing'
JOIN {p}nodes imn ON imn.key = inu.sink_key
JOIN {p}edges ina
       ON ina.source_key = hp.sink_key AND ina.relation = 'InferredAs'
JOIN {p}nodes txn ON txn.key = ina.sink_key
LEFT JOIN {p}edges mb
       ON mb.source_key = hp.sink_key AND mb.relation = 'MeasuredBy'
LEFT JOIN {p}nodes o ON o.key = mb.sink_key
WHERE t.relation = 'HasTemporalExtent'
"""


_VIZ_NODES = """
CREATE OR REPLACE TEMPORARY VIEW {p}viz_nodes AS
SELECT key AS id, COALESCE(pretty_name, key) AS label, node_type
FROM {p}nodes
"""

_VIZ_EDGES = """
CREATE OR REPLACE TEMPORARY VIEW {p}viz_edges AS
SELECT md5(concat_ws('|', source_key, sink_key, relation)) AS id,
       source_key AS source, sink_key AS sink, relation
FROM {p}edges
"""


def register_graph_views(
    spark: SparkSession,
    nodes: DataFrame,
    edges: DataFrame,
    prefix: str = "graph_",
) -> list[str]:
    """Register the graph SQL surface; returns the view names created."""
    nodes.createOrReplaceTempView(f"{prefix}nodes")
    edges.createOrReplaceTempView(f"{prefix}edges")
    spark.sql(
        f"""CREATE OR REPLACE TEMPORARY VIEW {prefix}index AS
        SELECT key, node_type, pretty_name FROM {prefix}nodes
        """
    )
    spark.sql(_TIMELINE_EXTENT.format(p=prefix))
    spark.sql(_EVIDENCE_EXTRACT.format(p=prefix))
    spark.sql(_VIZ_NODES.format(p=prefix))
    spark.sql(_VIZ_EDGES.format(p=prefix))
    return [
        f"{prefix}{v}"
        for v in (
            "nodes",
            "edges",
            "index",
            "timeline_extent",
            "evidence_extract",
            "viz_nodes",
            "viz_edges",
        )
    ]


def export_table(df, path: str, fmt: str = "csv") -> None:
    """Write an analysis-ready table for external consumers (the
    reference's users hand occurrence/EBV datasets to R/Python
    workflows): ``csv`` (with header), ``jsonl`` (splittable JSON
    lines, the S7 convention), or ``parquet``.  Distributed write —
    consumers that need a single file coalesce(1) themselves, trading
    away the parallel write."""
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w.option("header", True).csv(path)
    elif fmt == "jsonl":
        w.json(path)
    elif fmt == "parquet":
        w.parquet(path)
    else:
        raise ValueError(f"unknown export format: {fmt}")


# --- Darwin Core Archive export -------------------------------------------

#: EX1 column → Darwin Core / ChronometricAge term URI.  Only mapped
#: columns enter the archive core; the id column (occurrence_id) is
#: both the <id> and the occurrenceID field, per GBIF convention.
DWC_TERM_URIS = {
    "occurrence_id": "http://rs.tdwg.org/dwc/terms/occurrenceID",
    "scientific_name": "http://rs.tdwg.org/dwc/terms/scientificName",
    "locality": "http://rs.tdwg.org/dwc/terms/locality",
    "decimalLatitude": "http://rs.tdwg.org/dwc/terms/decimalLatitude",
    "decimalLongitude": "http://rs.tdwg.org/dwc/terms/decimalLongitude",
    "geodeticDatum": "http://rs.tdwg.org/dwc/terms/geodeticDatum",
    "basisOfRecord": "http://rs.tdwg.org/dwc/terms/basisOfRecord",
    "occurrenceStatus": "http://rs.tdwg.org/dwc/terms/occurrenceStatus",
    "maximumChronometricAge":
        "http://rs.tdwg.org/chrono/terms/maximumChronometricAge",
    "minimumChronometricAge":
        "http://rs.tdwg.org/chrono/terms/minimumChronometricAge",
    "chronometricAgeUnit":
        "http://rs.tdwg.org/chrono/terms/chronometricAgeUnit",
}

_DWC_CORE_ROWTYPE = "http://rs.tdwg.org/dwc/terms/Occurrence"


def export_dwc_archive(df, path: str) -> None:
    """Write a Darwin Core Archive (the GBIF ingest format): the
    occurrence core as tab-delimited part files under ``{path}/core/``
    plus a ``meta.xml`` descriptor mapping each column position to its
    DwC/ChronometricAge term URI, with every part file listed as a
    ``<location>`` (the DwC-A text spec allows multiple locations, so
    the data write stays DISTRIBUTED — no coalesce(1) funnel; consumers
    zip the directory).  Columns without a term mapping are dropped;
    ``occurrence_id`` is both the ``<id>`` column and the occurrenceID
    field, per GBIF convention.

    All metadata I/O goes through the JVM Hadoop FS API (the
    versioned-log pattern), so the export target can be any supported
    scheme — local, ``file:``, ``hdfs://``, object stores — not just a
    POSIX path."""
    import xml.sax.saxutils as sx

    cols = [c for c in df.columns if c in DWC_TERM_URIS]
    if "occurrence_id" not in cols:
        raise ValueError("DwC archive needs an occurrence_id column")
    cols = ["occurrence_id"] + [c for c in cols if c != "occurrence_id"]
    core_dir = f"{path}/core"
    (
        df.select(*cols)
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", False)
        .option("emptyValue", "")
        .csv(core_dir)
    )
    spark = df.sparkSession
    parts = sorted(
        name
        for name in storage.children(spark, core_dir)
        if name.startswith("part-") and name.endswith(".csv")
    )
    locations = "\n      ".join(
        f"<location>core/{sx.escape(p)}</location>" for p in parts
    )
    fields = "\n    ".join(
        f'<field index="{i}" term="{DWC_TERM_URIS[c]}"/>'
        for i, c in enumerate(cols)
    )
    meta = f"""<?xml version="1.0" encoding="UTF-8"?>
<archive xmlns="http://rs.tdwg.org/dwc/text/">
  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n"
        fieldsEnclosedBy="" ignoreHeaderLines="0"
        rowType="{_DWC_CORE_ROWTYPE}">
    <files>
      {locations}
    </files>
    <id index="0"/>
    {fields}
  </core>
</archive>
"""
    storage.write_text(spark, f"{path}/meta.xml", meta)
