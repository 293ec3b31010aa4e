"""WCCDM-OBS GeoJSON serialization — the reference's actual output format.

The reference yields one GeoJSON Feature dict per observation
(``bufr2geojson/__init__.py:1123-1172``; schema
``resources/schemas/wccdm-obs.json``) and its CLI writes one JSON file per
feature (``cli.py:65-85``). Here the Feature is assembled from the decoded
columns by a single Arrow-batched pandas UDF over a NARROW struct projection
(the polymorphic ``result.value`` — number | code struct | flag struct —
rules out a pure ``F.to_json`` schema), producing one ``geojson`` string
column. The two blocks the feature table does not carry verbatim are
rebuilt here: ``hasProvenance`` from the row's PROV columns
(``_prov_block``), and ``additionalProperties`` as the ``metadata_json``
dict with ``BUFRheaders`` parsed from ``headers_json`` (once per report
within a batch) appended as the last key. A sink-only operator: at 100 TB
you write the columnar feature table and serialize to GeoJSON only at
export boundaries, partitioned by ``cell_prefix`` instead of the
reference's file-per-feature.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

CONFORMS_TO = ["https://wis.wmo.int/spec/wccdm-obs/1/conf/observation"]
ENGINE_VERSION_LABEL = "0.7.dev0"  # matches the reference prov label contract

_NEEDED = [
    "feature_id", "report_id", "index", "geometry", "host", "wsi",
    "observation_type", "observed_property", "observing_procedure",
    "phenomenon_time", "result_time", "result_value", "result_code",
    "result_flags", "result_units", "quality_flag", "report_type",
    "headers_json", "metadata_json", "prov_source", "subset_index",
    "message_number", "prov_end_time",
]


def _nn(v):
    """pandas nulls arrive as NaN in float columns — normalize to None."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v


def _prov_block(source_identifier, feature_id, inner_id, subset_idx, msg_idx,
                prov_end_time) -> dict:
    # reference :1262-1294, wall clock injected
    return {
        "prefix": {"prov": "http://www.w3.org/ns/prov#",
                   "schema": "https://schema.org/"},
        "entity": {
            f"{source_identifier}": {
                "prov:type": "schema:DigitalDocument",
                "prov:label": "Input data file",
                "schema:encodingFormat": "application/bufr",
            },
            f"{feature_id}": {
                "prov:type": "observation",
                "prov:label": f"Observation {inner_id} from subset "
                              f"{subset_idx} of message {msg_idx}",
            },
        },
        "wasDerivedFrom": {
            "_:wdf": {
                "prov:generatedEntity": f"{feature_id}",
                "prov:usedEntity": f"{source_identifier}",
                "prov:activity": "_:bufr2geojson",
            }
        },
        "activity": {
            "_:bufr2geojson": {
                "prov:type": "prov:Activity",
                "prov:label": f"Data transformation using version "
                              f"{ENGINE_VERSION_LABEL} of bufr2geojson",
                "prov:endTime": prov_end_time,
            }
        },
    }


def _feature_dict(r: dict, headers: dict) -> dict:
    """One WCCDM-OBS Feature from a decoded row (reference :1123-1172).

    ``headers`` memoizes parsed ``headers_json`` values across the rows of
    one batch (all features of a report share one); the parsed dict is
    shared between Features, never mutated."""
    geom = _nn(r.get("geometry"))
    geometry = (
        {"type": geom["type"], "coordinates": list(geom["coordinates"])}
        if geom is not None else None
    )
    value = _nn(r.get("result_value"))
    if value is None:
        code = _nn(r.get("result_code"))
        flags = _nn(r.get("result_flags"))
        if code is not None:
            value = {"codetable": code["codetable"], "entry": code["entry"],
                     "description": code["description"]}
        elif flags is not None:
            value = {"flagtable": flags["flagtable"], "entry": flags["entry"],
                     "description": list(flags["description"])
                     if flags["description"] is not None else None}
    qf = r.get("quality_flag") or {}
    prov = None
    if _nn(r.get("prov_end_time")) is not None:
        prov = _prov_block(r["prov_source"], r["feature_id"], int(r["index"]),
                           int(r["subset_index"]), int(r["message_number"]),
                           r["prov_end_time"])
    metadata = None
    if r.get("metadata_json"):
        metadata = json.loads(r["metadata_json"])
        hj = r.get("headers_json")
        if hj:
            hdr = headers.get(hj)
            if hdr is None:
                hdr = headers[hj] = json.loads(hj)
            # reference key order: BUFRheaders is the last key
            metadata["BUFRheaders"] = hdr
    return {
        "id": r["feature_id"],
        "conformsTo": list(CONFORMS_TO),
        "type": "Feature",
        "geometry": geometry,
        "properties": {
            "host": r["host"],
            "observer": None,
            "observationType": r["observation_type"],
            "observedProperty": r["observed_property"],
            "observingProcedure": r["observing_procedure"],
            "phenomenonTime": r["phenomenon_time"],
            "resultTime": r["result_time"],
            "validTime": None,
            "result": {
                "value": value,
                "units": r["result_units"],
                "standardUncertainty": None,
            },
            "resultQuality": [
                {
                    "inScheme": qf.get("inScheme"),
                    "flag": qf.get("flag"),
                    "flagValue": qf.get("flagValue"),
                }
            ],
            "parameter": {
                "hasProvenance": prov,
                "status": None,
                "version": 0,
                "comment": None,
                "reportType": r["report_type"],
                "reportIdentifier": r["report_id"],
                "isMemberOf": None,
                "additionalProperties": metadata,
            },
            "featureOfInterest": [
                {"id": None, "label": None, "relation": None}
            ],
            "index": r["index"],
        },
    }


def geojson_col(packed: Column) -> Column:
    """``geojson`` string from the packed struct of decoded columns."""

    @pandas_udf(StringType())
    def _ser(s: pd.DataFrame) -> pd.Series:
        # a StructType argument arrives as a pandas DataFrame (one column
        # per field); nested structs inside arrive as dicts
        headers = {}
        return pd.Series(
            [json.dumps(_feature_dict(r, headers), separators=(",", ":"))
             for r in s.to_dict("records")]
        )

    return _ser(packed)


def to_geojson(features: DataFrame, keep_cols: tuple = ("feature_id",
               "cell_prefix")) -> DataFrame:
    """Append the WCCDM-OBS ``geojson`` column; keep only ``keep_cols`` that
    exist (sink projection). Narrow: one struct in, one string out."""
    packed = F.struct(*[F.col(c) for c in _NEEDED])
    kept = [c for c in keep_cols if c in features.columns]
    return features.select(*kept, geojson_col(packed).alias("geojson"))


def write_geojson(features: DataFrame, path: str,
                  partition_col: str = "cell_prefix") -> None:
    """GeoJSON export sink: text files of newline-delimited Features,
    partitioned by cell prefix (the scale-sane replacement for the
    reference CLI's file-per-feature, cli.py:74-80)."""
    out = to_geojson(features, keep_cols=(partition_col,))
    if partition_col in out.columns:
        # text sink: partition cols move into the directory layout, leaving
        # exactly the one string data column the format requires
        (out.select(partition_col, "geojson").write.mode("overwrite")
         .partitionBy(partition_col).text(path))
    else:
        out.select("geojson").write.mode("overwrite").text(path)
