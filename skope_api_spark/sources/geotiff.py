"""GeoTIFF → Parquet ingestion (the S1 reader half for real rasters).

The reference reads rasters per-request with rasterio
(``timeseries/app/core/services.py:150-151``, ``schemas/geometry.py:90``);
at 100 TB the engine instead ingests each raster ONCE into the partitioned
long-table layout (``sources.cube.ingest_to_parquet``'s schema) and serves
every query from Parquet, where band ranges and spatial windows prune.

Execution model — distributed over FILES, not pixels:

- the driver only lists (file, dataset_id, variable_id) tuples;
- ``mapInPandas`` fans the list out so each task opens its own files with
  rasterio (C library, GIL-free raster decode) and emits Arrow batches of
  long rows — no raster bytes ever move through the driver;
- nodata values become NULL at ingestion (P4), so every downstream
  aggregate's count/mean semantics are uniform.

rasterio is NOT available in this sandbox, so the import lives inside the
task function behind a guard; everything Spark-side (schema, fan-out,
partitioned write) is real and unit-tested with a fake reader.
"""

from __future__ import annotations

from calendar import monthrange
from collections.abc import Callable, Iterator, Sequence
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from skope_api_spark.sources.cube import cell_area_m2, write_lake

# one long row per (band, row, col) cell — identical to sources.cube
CUBE_SCHEMA = T.StructType(
    [
        T.StructField("dataset_id", T.StringType(), False),
        T.StructField("variable_id", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("time", T.DateType(), True),
        T.StructField("row", T.IntegerType(), False),
        T.StructField("col", T.IntegerType(), False),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("cell_area", T.DoubleType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)

_FILES_SCHEMA = "path string, dataset_id string, variable_id string, resolution string, start_date date"


def _read_with_rasterio(path: str):
    """Yield (band_index, 2-D ndarray-with-NaN-nodata, affine transform).

    Isolated so tests can substitute a fake; the rasterio import only
    happens inside executor tasks, and only when this default reader runs.
    """
    try:
        import rasterio  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - sandbox has no rasterio
        raise ImportError(
            "GeoTIFF ingestion needs the 'rasterio' package on the Spark "
            "executors (pip install rasterio). The rest of the engine does "
            "not depend on it - only ingest_geotiff()."
        ) from exc

    with rasterio.Env(), rasterio.open(path) as ds:
        t = ds.transform
        for b in range(1, ds.count + 1):
            data = ds.read(b, masked=True).astype("float64").filled(float("nan"))
            yield b, data, (t.a, t.c, t.e, t.f)  # px_w, origin_lon, px_h, origin_lat


_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 11: 4, 12: 8}
_TIFF_TYPE_FMT = {1: "B", 3: "H", 4: "I", 11: "f", 12: "d"}


def _tiff_tag_values(data: bytes, bo: str, entry: bytes):
    """Decode one 12-byte IFD entry to (tag, list-of-values)."""
    import struct as _s

    tag, typ, cnt = _s.unpack(bo + "HHI", entry[:8])
    size = _TIFF_TYPE_SIZE.get(typ)
    if size is None:  # unknown type: keep raw offset, caller ignores
        return tag, []
    total = size * cnt
    raw = entry[8 : 8 + total] if total <= 4 else None
    if raw is None:
        off = _s.unpack(bo + "I", entry[8:12])[0]
        raw = data[off : off + total]
    if typ == 2:  # ASCII
        return tag, [raw.split(b"\x00", 1)[0].decode("ascii", "replace")]
    return tag, list(_s.unpack(bo + str(cnt) + _TIFF_TYPE_FMT[typ], raw))


def read_baseline_tiff(data: bytes):
    """Pure-stdlib/NumPy decode of a BASELINE TIFF 6.0 raster — the subset
    GDAL writes for the reference's shipped dev cubes
    (``/root/reference/timeseries/data/*.tif``: single IFD, uncompressed,
    strip-organized, chunky ``PlanarConfiguration=1`` with one SAMPLE per
    band, uint/int/float samples, GDAL_NODATA ascii tag, geotransform from
    ModelPixelScaleTag+ModelTiepointTag). Multi-page (one band per IFD)
    files are also handled. Yields the same protocol as the rasterio
    reader: ``(band, 2-D float64 array with NaN nodata, (px_w, origin_lon,
    px_h, origin_lat))``.

    Raises ValueError for compressed / tiled / planar=2 variants — those
    are deployment formats that genuinely need rasterio; the split keeps
    the 100 TB ingest path honest (rasterio on real clusters) while the
    reference's own fixtures decode anywhere."""
    import struct as _s

    import numpy as np

    if len(data) < 8 or data[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF stream")
    bo = "<" if data[:2] == b"II" else ">"
    if _s.unpack(bo + "H", data[2:4])[0] != 42:
        raise ValueError("bad TIFF magic")
    off = _s.unpack(bo + "I", data[4:8])[0]
    band_no = 0
    seen_ifds: set[int] = set()
    while off:
        # Hostile-input contract: a corrupt/cyclic next-IFD pointer must be
        # a loud ValueError, never an executor hang; truncated or garbage
        # streams must raise ValueError (the documented type), not leak
        # struct.error/KeyError from the parser internals.
        if off in seen_ifds:
            raise ValueError("cyclic TIFF IFD chain")
        seen_ifds.add(off)
        try:
            n = _s.unpack(bo + "H", data[off : off + 2])[0]
            tags = {}
            for i in range(n):
                tag, vals = _tiff_tag_values(
                    data, bo, data[off + 2 + 12 * i : off + 14 + 12 * i]
                )
                tags[tag] = vals
            off = _s.unpack(
                bo + "I", data[off + 2 + 12 * n : off + 6 + 12 * n]
            )[0]
            width, height = tags[256][0], tags[257][0]
        except (KeyError, IndexError, _s.error) as exc:
            raise ValueError(f"truncated or corrupt TIFF IFD: {exc}") from exc
        if tags.get(259, [1])[0] != 1:
            raise ValueError("compressed TIFF needs rasterio")
        if 322 in tags or 323 in tags:
            raise ValueError("tiled TIFF needs rasterio")
        if tags.get(284, [1])[0] != 1:
            raise ValueError("planar TIFF needs rasterio")
        spp = tags.get(277, [1])[0]
        bits = tags.get(258, [8])[0]
        fmt = tags.get(339, [1])[0]  # 1 uint, 2 int, 3 float
        kind = {1: "u", 2: "i", 3: "f"}.get(fmt)
        if kind is None or bits % 8:
            raise ValueError(f"unsupported sample format {fmt}/{bits}")
        dtype = np.dtype(f"{bo}{kind}{bits // 8}")

        if 273 not in tags or 279 not in tags:
            raise ValueError("TIFF has no strip data (header-only blob?)")
        raw = b"".join(
            data[o : o + c]
            for o, c in zip(tags[273], tags[279], strict=True)
        )
        px = np.frombuffer(raw, dtype=dtype, count=width * height * spp)
        cube = px.reshape(height, width, spp).astype("float64")

        nodata = tags.get(42113)
        if nodata:
            try:
                nd = float(nodata[0])
            except ValueError:
                nd = None
            if nd is not None:
                cube = np.where(cube == nd, np.nan, cube)

        sx, sy = (tags.get(33550) or [1.0, 1.0, 0.0])[:2]
        tp = tags.get(33922) or [0.0] * 6
        # tiepoint maps raster (i, j) -> model (x, y); normalize to origin
        origin_lon = tp[3] - tp[0] * sx
        origin_lat = tp[4] + tp[1] * sy
        for s in range(spp):
            band_no += 1
            yield band_no, cube[:, :, s].copy(), (sx, origin_lon, -sy, origin_lat)


def write_baseline_tiff(
    cube,  # 3-D ndarray (height, width, bands)
    *,
    byte_order: str = "<",
    nodata: float | None = None,
    rows_per_strip: int | None = None,
    page_per_band: bool = False,
    pixel_scale: tuple[float, float] = (1.0, 1.0),
    origin: tuple[float, float] = (-123.0, 45.0),
) -> bytes:
    """Minimal baseline TIFF 6.0 writer — the inverse of
    ``read_baseline_tiff``, exercising the paths the reference's shipped
    files don't (big-endian, multi-strip, one-band-per-IFD). Test/tooling
    surface only; production writing stays Parquet."""
    import struct as _s

    import numpy as np

    bo = byte_order
    h, w, nb = cube.shape
    kind = {"u": 1, "i": 2, "f": 3}[cube.dtype.kind]
    bits = cube.dtype.itemsize * 8
    rps = h if rows_per_strip is None else rows_per_strip
    nd_ascii = None if nodata is None else f"{nodata:g}\x00".encode()

    pages = (
        [cube[:, :, b : b + 1] for b in range(nb)] if page_per_band else [cube]
    )
    out = bytearray(b"II\x2a\x00" if bo == "<" else b"MM\x00\x2a")
    out += b"\x00\x00\x00\x00"  # first-IFD offset patched below
    prev_link = 4

    for page in pages:
        spp = page.shape[2]
        strips = [
            np.ascontiguousarray(
                page[r0 : r0 + rps], dtype=page.dtype.newbyteorder(bo)
            ).tobytes()
            for r0 in range(0, h, rps)
        ]
        strip_offs = []
        for s in strips:
            strip_offs.append(len(out))
            out += s

        def arr_tag(tag, typ, vals, fmt):
            size = _TIFF_TYPE_SIZE[typ] * len(vals)
            if size <= 4:
                raw = _s.pack(bo + str(len(vals)) + fmt, *vals)
                return _s.pack(bo + "HHI", tag, typ, len(vals)) + raw.ljust(4, b"\0")
            off = len(out)
            out.extend(_s.pack(bo + str(len(vals)) + fmt, *vals))
            return _s.pack(bo + "HHII", tag, typ, len(vals), off)

        entries = [
            arr_tag(256, 3, [w], "H"),
            arr_tag(257, 3, [h], "H"),
            arr_tag(258, 3, [bits] * spp, "H"),
            arr_tag(259, 3, [1], "H"),
            arr_tag(262, 3, [1], "H"),
            arr_tag(273, 4, strip_offs, "I"),
            arr_tag(277, 3, [spp], "H"),
            arr_tag(278, 3, [rps], "H"),
            arr_tag(279, 4, [len(s) for s in strips], "I"),
            arr_tag(284, 3, [1], "H"),
            arr_tag(339, 3, [kind] * spp, "H"),
            arr_tag(33550, 12, [pixel_scale[0], pixel_scale[1], 0.0], "d"),
            arr_tag(
                33922, 12, [0.0, 0.0, 0.0, origin[0], origin[1], 0.0], "d"
            ),
        ]
        if nd_ascii:
            if len(nd_ascii) <= 4:  # TIFF inline-value rule applies to ASCII too
                entries.append(
                    _s.pack(bo + "HHI", 42113, 2, len(nd_ascii))
                    + nd_ascii.ljust(4, b"\0")
                )
            else:
                off = len(out)
                out.extend(nd_ascii)
                entries.append(
                    _s.pack(bo + "HHII", 42113, 2, len(nd_ascii), off)
                )
        entries.sort(key=lambda e: _s.unpack(bo + "H", e[:2])[0])

        ifd_off = len(out)
        out[prev_link : prev_link + 4] = _s.pack(bo + "I", ifd_off)
        out += _s.pack(bo + "H", len(entries)) + b"".join(entries)
        prev_link = len(out)
        out += b"\x00\x00\x00\x00"  # next-IFD link (0 unless more pages)
    return bytes(out)


def _read_with_rasterio_or_baseline(path: str):
    """Default reader: rasterio when present (deployment formats — tiled,
    compressed, BigTIFF); otherwise the stdlib baseline decoder, so the
    reference's own uncompressed dev rasters ingest with zero extra
    dependencies."""
    try:
        import rasterio  # noqa: F401, PLC0415
    except ImportError:
        with open(path, "rb") as fh:
            yield from read_baseline_tiff(fh.read())
        return
    yield from _read_with_rasterio(path)


def _add_months(d: date, months: int) -> date:
    """ns-safe month arithmetic (pd.Timestamp cannot hold year-1 dates;
    SKOPE time axes start at 0001-01-01). The day is clamped to the target
    month's length so e.g. Jan-31 + 1 month is Feb-28/29, not a
    ValueError inside an executor task mid-ingest."""
    y, m0 = divmod(d.year * 12 + (d.month - 1) + months, 12)
    return date(y, m0 + 1, min(d.day, monthrange(y, m0 + 1)[1]))


def _cells(reader, files_pdf):
    """One task's work: decode every assigned file, emit long rows."""
    import numpy as np
    import pandas as pd

    for rec in files_pdf.itertuples(index=False):
        months = 1 if rec.resolution == "month" else 12
        for band, data, (px_w, origin_lon, px_h, origin_lat) in reader(rec.path):
            nrow, ncol = data.shape
            rr, cc = np.meshgrid(
                np.arange(nrow, dtype="int32"),
                np.arange(ncol, dtype="int32"),
                indexing="ij",
            )
            px_lat = abs(px_h)
            lat_top = origin_lat - rr * px_lat
            yield pd.DataFrame(
                {
                    "dataset_id": rec.dataset_id,
                    "variable_id": rec.variable_id,
                    "band": np.int32(band),
                    "time": _add_months(rec.start_date, (band - 1) * months),
                    "row": rr.ravel(),
                    "col": cc.ravel(),
                    "lon": (origin_lon + cc * px_w + px_w / 2).ravel(),
                    "lat": (lat_top - px_lat / 2).ravel(),
                    # Δλ comes from the LONGITUDE pixel width; the latitude
                    # band span from the pixel height — non-square pixels
                    # (common in reprojected rasters) need both
                    "cell_area": cell_area_m2(lat_top, px_lat, px_w).ravel(),
                    "value": np.where(
                        np.isnan(data), None, data.astype(object)
                    ).ravel(),
                }
            )


def geotiff_cells(
    spark: SparkSession,
    files: Sequence[tuple[str, str, str, str, date]],
    *,
    reader: Callable | None = None,
) -> DataFrame:
    """Decode (path, dataset_id, variable_id, resolution, start_date) files
    into the long cube DataFrame, one executor task per file batch."""
    rd = reader if reader is not None else _read_with_rasterio_or_baseline
    # one file per partition: raster decode is the unit of parallelism.
    # An explicit sequential index + range partitioning gives true
    # round-robin assignment — hash-partitioning on path collides, leaving
    # some tasks with 2+ rasters and others empty (straggler skew).
    files_list = list(files)
    files_df = spark.createDataFrame(
        [(i, *f) for i, f in enumerate(files_list)],
        "file_idx int, " + _FILES_SCHEMA,
    )
    files_df = files_df.repartitionByRange(max(len(files_list), 1), "file_idx")

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            yield from _cells(rd, pdf)

    return files_df.mapInPandas(run, CUBE_SCHEMA)


def ingest_geotiff(
    spark: SparkSession,
    files: Sequence[tuple[str, str, str, str, date]],
    out_path: str,
    *,
    reader: Callable | None = None,
) -> None:
    """ETL entry point: decode → the lake layout (``sources.cube.write_lake``,
    the writer ``ingest_to_parquet`` uses, so all pruning behavior carries)."""
    write_lake(geotiff_cells(spark, files, reader=reader), out_path)


def geotiff_band_header(width: int, height: int, band: int) -> bytes:
    """Real single-band GeoTIFF header bytes for one time-step file of the
    reference's per-band layout (one ``{dataset}/{variable}/{step}.tif``
    per band — reference deploy layout; see also
    ``timeseries/app/core/services.py`` raster-open path).

    The header is a genuine TIFF IFD0 the multimodal sniffer ladder
    (``operators.multimodal._sniff_image``) must parse by wild-file rules:
    even bands are written little-endian with SHORT dimension tags, odd
    bands big-endian with LONG tags (both legal TIFF encodings), and a
    GeoKeyDirectoryTag (34735) entry precedes the dimension tags so the
    sniffer's skip-unknown-tag path is exercised on every blob.
    """
    import struct

    le = band % 2 == 0
    bo = "<" if le else ">"
    magic = b"II*\x00" if le else b"MM\x00*"
    dim_type, dim_fmt = (3, "H") if le else (4, "I")

    def entry(tag: int, typ: int, fmt: str, val: int) -> bytes:
        raw = struct.pack(bo + fmt, val)
        return struct.pack(bo + "HHI", tag, typ, 1) + raw.ljust(4, b"\x00")

    ents = [
        entry(254, 4, "I", 0),  # NewSubfileType
        entry(256, dim_type, dim_fmt, width),  # ImageWidth
        entry(257, dim_type, dim_fmt, height),  # ImageLength
        entry(339, 3, "H", 3),  # SampleFormat: IEEE float
        entry(34735, 3, "H", 1),  # GeoKeyDirectoryTag (GeoTIFF marker)
    ]
    return (
        magic
        + struct.pack(bo + "I", 8)  # IFD0 at byte 8
        + struct.pack(bo + "H", len(ents))
        + b"".join(ents)
        + struct.pack(bo + "I", 0)  # next-IFD terminator
    )


def build_geotiff_band_headers(files_df: DataFrame) -> DataFrame:
    """(media_id, grid_cols, grid_rows, band) → (media_id, content) —
    the blob stage of the GeoTIFF sniff contract: per-band header bytes
    constructed inside Arrow-batched tasks, never on the driver."""
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "content": [
                        geotiff_band_header(int(w), int(h), int(b))
                        for w, h, b in zip(
                            pdf["grid_cols"], pdf["grid_rows"], pdf["band"]
                        )
                    ],
                }
            )

    return files_df.mapInPandas(batches, schema)
