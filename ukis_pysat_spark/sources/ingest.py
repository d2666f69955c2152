"""Scene ingestion: directory scans and manifest/annotation XML parsing.

Reference behavior re-expressed distributed:

- ``scan_scene_files``: the reference iterates a directory, regex-gates
  scene names and transparently unzips archives while chdir-ing the
  process (ukis_pysat/file.py:29-62 — process-global state we must not
  replicate).  Here: a ``binaryFile`` scan with recursive lookup; zip
  payloads are expanded *in memory per row* (``list_scene_idents``) — no
  tempdirs, no global chdir, safe under task retries.

- ``parse_manifests``: footprint (gml:coordinates with the lat/lon swap,
  file.py:160-168), origin country (file.py:172-187), IPF version
  (file.py:190-205) extracted with xml.etree; emitted as plain columns.

- ``parse_scene_metadata``: Landsat MTL / Sentinel-2 MTD rescale factors
  (raster.py:294-410) as a metadata table.

- ``parse_annotations``: rangePixelSpacing in meters + the derived
  degrees value (file.py:208-233).

Each parser is one ``arrowio.map_rows`` stage over the (path, content)
rows of a scan, with its output declared once as a ``pa.schema``.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ukis_pysat_spark.operators import arrowio

SCENE_PATTERN = re.compile(r"^S[1-3]._+")  # file.py:43

_GML = "{http://www.opengis.net/gml}coordinates"
_FACILITY = "{http://www.esa.int/safe/sentinel-1.0}facility"
_SOFTWARE = "{http://www.esa.int/safe/sentinel-1.0}software"

# file-name prefix -> platform: scene ingest (geotiff.ingest_geotiffs)
# and MTL parsing read this one table
_PLATFORM_PREFIXES = {
    "LC08": "Landsat8", "LE07": "Landsat7", "LT05": "Landsat5", "S2": "Sentinel2",
}


def _platform(name: Column, otherwise: Column) -> Column:
    """Platform of a file-name column by its prefix, else `otherwise`."""
    out = otherwise
    for prefix, platform in _PLATFORM_PREFIXES.items():
        out = F.when(name.startswith(prefix), platform).otherwise(out)
    return out


def scan_scene_files(
    spark: SparkSession, indir: str, glob: str = "*", recursive: bool = True
) -> DataFrame:
    """Distributed binaryFile scan of a scene directory tree."""
    return (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
        .option("pathGlobFilter", glob)
        .load(indir)
    )


_IDENTS_SCHEMA = pa.schema(
    [("path", pa.string()), ("ident", pa.string()),
     ("from_zip", pa.bool_()), ("kind", pa.string())]
)


def list_scene_idents(files: DataFrame) -> DataFrame:
    """Scene identifiers matching the reference's ^S[1-3]._+ gate:
    plain files, scene DIRECTORIES (the reference's primary case —
    file.py:29-62 yields directory entries; a binaryFile scan only sees
    files, so matching path components are emitted as directory idents),
    and scenes found *inside* zip archives (file.py:50-60) — zips are
    opened in memory, never extracted to disk.  One row per distinct
    (ident, kind); `path` is an arbitrary witness file."""

    def rows_fn(row: dict) -> dict | None:
        parts = row["path"].split("/")
        name = parts[-1]
        stem = name.rsplit(".", 1)[0] if "." in name else name
        # scene directories anywhere on the path
        found = [(comp, False, "dir") for comp in parts[:-1] if SCENE_PATTERN.match(comp)]
        if name.endswith(".zip"):
            try:
                with zipfile.ZipFile(io.BytesIO(row["content"])) as z:
                    inner = {n.split("/", 1)[0] for n in z.namelist()}
            except zipfile.BadZipFile:
                inner = set()
            for ident in inner:
                ident = ident.rsplit(".", 1)[0] if "." in ident else ident
                if SCENE_PATTERN.match(ident):
                    found.append((ident, True, "zip"))
        elif SCENE_PATTERN.match(stem):
            found.append((stem, False, "file"))
        if not found:
            return None
        idents, from_zip, kinds = zip(*found)
        return {"path": [row["path"]] * len(found), "ident": idents,
                "from_zip": from_zip, "kind": kinds}

    out = arrowio.map_rows(files, ["path", "content"], rows_fn, _IDENTS_SCHEMA)
    return out.dropDuplicates(["ident", "kind"])


def parse_manifest_bytes(content: bytes) -> dict:
    """One manifest.safe -> footprint ring + origin + IPF version.

    Keeps the reference's quirks verbatim: gml coordinates arrive as
    'lat,lon lat,lon ...' and are swapped to (lon, lat) (file.py:165-168);
    the ring is closed if the source isn't.
    """
    root = ET.fromstring(content)
    out = {"footprint_lon": None, "footprint_lat": None, "origin": None, "ipf": None}
    for elem in root.iter("metadataSection"):
        for child in elem.iter():
            if child.tag == _GML and child.text and out["footprint_lon"] is None:
                lons, lats = [], []
                for pair in child.text.split(" "):
                    c = pair.split(",")
                    lons.append(float(c[1]))
                    lats.append(float(c[0]))
                if lons and (lons[0] != lons[-1] or lats[0] != lats[-1]):
                    lons.append(lons[0])
                    lats.append(lats[0])
                out["footprint_lon"], out["footprint_lat"] = lons, lats
            elif child.tag == _FACILITY and out["origin"] is None:
                out["origin"] = child.attrib.get("country")
            elif child.tag == _SOFTWARE and out["ipf"] is None:
                v = child.attrib.get("version")
                out["ipf"] = float(v) if v is not None else None
    return out


_MANIFEST_SCHEMA = pa.schema(
    [("footprint_lon", pa.list_(pa.float64())), ("footprint_lat", pa.list_(pa.float64())),
     ("origin", pa.string()), ("ipf", pa.float64()), ("path", pa.string())]
)


def parse_manifests(files: DataFrame) -> DataFrame:
    """(path, content) manifest rows -> one parsed row each; rows that
    are not well-formed XML are dropped."""

    def rows_fn(row: dict) -> dict | None:
        try:
            d = parse_manifest_bytes(bytes(row["content"]))
        except ET.ParseError:
            return None
        d["path"] = row["path"]
        return {k: [v] for k, v in d.items()}

    return arrowio.map_rows(files, ["path", "content"], rows_fn, _MANIFEST_SCHEMA)


# --- Landsat MTL / Sentinel-2 MTD rescale-factor ingestion ------------------
# (reference raster.py:294-331 collection-1/2 MTL group detection;
#  raster.py:391-401 S2 MTD XML with baseline>=4 radiometric offsets)

_MTL_GROUPS = {
    # COLLECTION_NUMBER -> (main, radiometric_rescaling, thermal_constants(L8), thermal_constants(other))
    1: ("L1_METADATA_FILE", "RADIOMETRIC_RESCALING", "TIRS_THERMAL_CONSTANTS", "THERMAL_CONSTANTS"),
    2: ("LANDSAT_METADATA_FILE", "LEVEL1_RADIOMETRIC_RESCALING",
        "LEVEL1_THERMAL_CONSTANTS", "LEVEL1_THERMAL_CONSTANTS"),
}


def _mtl_coerce(val: str):
    if val.startswith('"') and val.endswith('"'):
        return val[1:-1]
    try:
        return int(val)
    except ValueError:
        try:
            return float(val)
        except ValueError:
            return val


def parse_mtl_text(text: str) -> dict:
    """Landsat MTL (GROUP/END_GROUP key = value) -> nested dict."""
    root: dict = {}
    stack = [root]
    for line in text.splitlines():
        line = line.strip()
        if not line or line == "END":
            continue
        key, _, val = line.partition("=")
        key, val = key.strip(), val.strip()
        if key == "GROUP":
            d: dict = {}
            stack[-1][val] = d
            stack.append(d)
        elif key == "END_GROUP":
            if len(stack) > 1:
                stack.pop()
        else:
            stack[-1][key] = _mtl_coerce(val)
    return root


def _mtl_find(d: dict, key: str):
    """Recursive key search (the reference's iterate_mtl, raster.py:299-312)."""
    if key in d:
        return d[key]
    for v in d.values():
        if isinstance(v, dict):
            found = _mtl_find(v, key)
            if found is not None:
                return found
    return None


def metadata_from_mtl(text: str, platform: str, image_id: str) -> dict:
    """One MTL document -> a METADATA_SCHEMA row (datagen.METADATA_SCHEMA).

    Factor arrays are indexed by the platform's FULL band order
    (functions.bands.BAND_ORDER) so dn2toa's label-indexed selection
    applies; keys absent in the MTL (reflectance factors of thermal
    bands, thermal constants of reflectance bands) become 0.0 — they are
    never read for those bands.
    """
    from ukis_pysat_spark.functions import bands as _bands

    platform = platform.replace("-", "")
    mtl = parse_mtl_text(text)
    coll = _mtl_find(mtl, "COLLECTION_NUMBER")
    if coll not in _MTL_GROUPS:
        raise ValueError(f"COLLECTION_NUMBER {coll} in metadata file is not supported")
    g_main, g_rr, g_tc_l8, g_tc_other = _MTL_GROUPS[coll]
    main = mtl.get(g_main)
    if main is None:
        raise ValueError(f"MTL group {g_main} not found")
    sun_elevation = float(_mtl_find(main, "SUN_ELEVATION"))
    rr = main.get(g_rr, {})
    tc = main.get(g_tc_l8 if platform == "Landsat8" else g_tc_other, {})
    order = _bands.BAND_ORDER[platform]

    def col(table, prefix):
        return [float(table.get(f"{prefix}{b}", 0.0)) for b in order]

    return {
        "image_id": image_id,
        "platform": platform,
        "sun_elevation": sun_elevation,
        "mult_reflectance": col(rr, "REFLECTANCE_MULT_BAND_"),
        "add_reflectance": col(rr, "REFLECTANCE_ADD_BAND_"),
        "mult_radiance": col(rr, "RADIANCE_MULT_BAND_"),
        "add_radiance": col(rr, "RADIANCE_ADD_BAND_"),
        "k1": col(tc, "K1_CONSTANT_BAND_"),
        "k2": col(tc, "K2_CONSTANT_BAND_"),
        "quantification_value": 0.0,
        "radio_add_offset": [0.0] * len(order),
        "processing_baseline": 0.0,
        "thermal_band_idx": [
            i for i, b in enumerate(order) if _bands.is_thermal_label(platform, b)
        ],
    }


def metadata_from_mtd(content: bytes | str, image_id: str) -> dict:
    """One Sentinel-2 L1C MTD XML -> a METADATA_SCHEMA row.

    Reads PROCESSING_BASELINE, QUANTIFICATION_VALUE and (baseline>=4)
    the per-band RADIO_ADD_OFFSET list keyed by @band_id
    (raster.py:391-410); offsets are zeros for baseline<4.
    """
    from ukis_pysat_spark.functions import bands as _bands

    root = ET.fromstring(content)
    baseline = None
    qv = None
    order = _bands.BAND_ORDER["Sentinel2"]
    offsets = [0.0] * len(order)
    for elem in root.iter():
        tag = elem.tag.rsplit("}", 1)[-1]
        if tag == "PROCESSING_BASELINE" and baseline is None and elem.text:
            baseline = float(elem.text)
        elif tag == "QUANTIFICATION_VALUE" and qv is None and elem.text:
            qv = float(elem.text)
        elif tag == "RADIO_ADD_OFFSET" and elem.text:
            band_id = elem.attrib.get("band_id")
            if band_id is not None and band_id in order:
                offsets[order.index(band_id)] = float(elem.text)
    if baseline is None or qv is None:
        raise ValueError("MTD XML lacks PROCESSING_BASELINE / QUANTIFICATION_VALUE")
    if baseline < 4.0:
        offsets = [0.0] * len(order)
    return {
        "image_id": image_id,
        "platform": "Sentinel2",
        "sun_elevation": 0.0,
        "mult_reflectance": [0.0] * len(order),
        "add_reflectance": [0.0] * len(order),
        "mult_radiance": [0.0] * len(order),
        "add_radiance": [0.0] * len(order),
        "k1": [0.0] * len(order),
        "k2": [0.0] * len(order),
        "quantification_value": qv,
        "radio_add_offset": offsets,
        "processing_baseline": baseline,
        "thermal_band_idx": [],
    }


def parse_scene_metadata(files: DataFrame) -> DataFrame:
    """binaryFile rows of *_MTL.txt / *_MTD.xml -> metadata table
    (datagen.METADATA_SCHEMA).  image_id = scene ident (file stem minus
    the _MTL/_MTD suffix); platform from the filename prefix
    (LC08/LE07/LT05 -> Landsat-8/7/5, S2* -> Sentinel-2).
    """

    def rows_fn(row: dict) -> dict | None:
        name = row["path"].rsplit("/", 1)[-1]
        try:
            if name.endswith("_MTL.txt") and row["platform"].startswith("Landsat"):
                ident = name[: -len("_MTL.txt")]
                text = bytes(row["content"]).decode("utf-8", "replace")
                d = metadata_from_mtl(text, row["platform"], ident)
            elif name.endswith("_MTD.xml"):
                d = metadata_from_mtd(bytes(row["content"]), name[: -len("_MTD.xml")])
            else:
                return None
        except (ValueError, ET.ParseError):
            return None
        return {k: [v] for k, v in d.items()}

    named = files.withColumn("platform", _platform(F.regexp_extract("path", "[^/]*$", 0), F.lit("")))
    return arrowio.map_rows(
        named, ["path", "content", "platform"], rows_fn, arrowio.METADATA_SCHEMA
    )


PIXEL_SPACING_DEG_PER_10M = 8.983152841195215e-5  # file.py:230


_ANNOTATION_SCHEMA = pa.schema(
    [("path", pa.string()), ("polarization", pa.string()),
     ("spacing_m", pa.float64()), ("spacing_deg", pa.float64())]
)


def parse_annotations(files: DataFrame, polarization: str = "HH") -> DataFrame:
    """Annotation XML -> (path, polarization, spacing_m, spacing_deg).

    File-name gate: 4th '-'-separated token equals the polarization
    (file.py:221); value from imageInformation/rangePixelSpacing.
    """
    pol = polarization.lower()

    def rows_fn(row: dict) -> dict | None:
        name = row["path"].rsplit("/", 1)[-1]
        parts = name.split("-")
        if len(parts) <= 3 or parts[3] != pol or not name.endswith(".xml"):
            return None
        try:
            root = ET.fromstring(bytes(row["content"]))
        except ET.ParseError:
            return None
        spacing_m = [
            float(child.text)
            for elem in root.iter("imageInformation")
            for child in elem.iter()
            if child.tag == "rangePixelSpacing" and child.text
        ]
        return {
            "path": [row["path"]] * len(spacing_m),
            "polarization": [polarization] * len(spacing_m),
            "spacing_m": spacing_m,
            "spacing_deg": [(m / 10.0) * PIXEL_SPACING_DEG_PER_10M for m in spacing_m],
        }

    return arrowio.map_rows(files, ["path", "content"], rows_fn, _ANNOTATION_SCHEMA)
