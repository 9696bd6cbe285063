"""TiledRasterLayer — the engine's central abstraction.

A *layer* is a DataFrame of tiles plus a small metadata record:

    key_col:int, key_row:int, [instant:timestamp], band:int, cells:array<double>

Re-expresses the reference's ``TiledRasterLayer``
(``/root/reference/geopyspark/geotrellis/layer.py:1041-2580``,
``geopyspark-backend/.../TiledRasterLayer.scala:54-450``) as a thin facade
over DataFrame transformations. SPATIAL vs SPACETIME
(``constants.py:40-95``) collapses into presence/absence of the
``instant`` column — every operator treats it as an ordinary key column.

Scale notes (100 TB design):
- tiles ride as array<double> columns; all local algebra is Catalyst
  expressions (whole-stage codegen), Python only in stencil/mask kernels
  via Arrow-batched pandas UDFs;
- layer-layer ops are key-equi-joins — broadcast or sort-merge chosen by
  AQE; persistent layers are written z-ordered so parquet min/max stats
  provide key-range pushdown (the reference's SFC index, for free);
- no operator materializes on the driver except the explicit collectors
  (stitch / lookup / get_point_values / histograms), mirroring §2 of
  SURVEY.md.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core.celltype import parse_cell_type, with_user_nodata
from .core.extent import LayoutDefinition
from .core.geom import Geometry, from_wkt
from .core.keys import KeyTransform
from .core.metadata import LayerMetadata
from .core.zindex import z2_col
from .operators import local as _local
from .operators import reshape as _reshape


class TiledRasterLayer:
    """Distributed tiled raster: DataFrame of (key, band, cells) + metadata."""

    def __init__(self, df: DataFrame, metadata: LayerMetadata):
        self.df = df
        self.metadata = metadata

    # --- basics -----------------------------------------------------------
    @property
    def layout(self) -> LayoutDefinition:
        return self.metadata.layout

    @property
    def nodata(self) -> float | None:
        return self.metadata.nodata

    @property
    def is_temporal(self) -> bool:
        return "instant" in self.df.columns

    @property
    def layer_type(self) -> str:
        """Reference ``layer_type`` attribute: LayerType.SPATIAL /
        SPACETIME (str-enum, compares equal to the plain strings)."""
        from .constants import LayerType

        return LayerType.SPACETIME if self.is_temporal else LayerType.SPATIAL

    @property
    def layer_metadata(self) -> LayerMetadata:
        """Reference name for :attr:`metadata`."""
        return self.metadata

    @property
    def zoom_level(self) -> int | None:
        """Reference ``zoom_level`` attribute."""
        return self.metadata.zoom

    @property
    def key_transform(self) -> KeyTransform:
        return KeyTransform(self.layout)

    def _with(self, df: DataFrame, metadata: LayerMetadata | None = None) -> "TiledRasterLayer":
        return TiledRasterLayer(df, metadata or self.metadata)

    def count(self) -> int:
        return self.df.count()

    def collect_keys(self) -> list:
        return self.df.select(*_local.key_cols(self.df)).distinct().collect()

    def persist(self, level: str | None = None) -> "TiledRasterLayer":
        self.df.persist()
        return self

    def cache(self) -> "TiledRasterLayer":
        """Reference ``cache()`` (``layer.py:231-235``): persist at the
        default storage level."""
        return self.persist()

    def unpersist(self) -> "TiledRasterLayer":
        self.df.unpersist()
        return self

    def get_partition_strategy(self) -> str | None:
        """Reference ``get_partition_strategy`` (``layer.py:340-360``):
        describe how the layer is currently partitioned. DataFrame plans
        carry the partitioning, not a named strategy object; this
        reports the outputPartitioning class of the analyzed plan
        (``RangePartitioning`` after :meth:`partition_by_zorder`,
        ``HashPartitioning`` after an aggregation, ``None`` for an
        unshuffled scan)."""
        try:
            plan = self.df._jdf.queryExecution().executedPlan().toString().lower()
        except Exception:
            return None
        if "rangepartitioning" in plan:
            return "RangePartitioning"
        if "hashpartitioning" in plan:
            return "HashPartitioning"
        return None

    def repartition(self, n: int) -> "TiledRasterLayer":
        return self._with(self.df.repartition(n))

    def partition_by_zorder(self, n: int | None = None) -> "TiledRasterLayer":
        """Z-curve locality partitioning — the DataFrame-native form of the
        reference's SpatialPartitionStrategy (``SpatialPartitioner.scala:14-24``):
        range-partition on a codegen'd Morton index column."""
        df = self.df.withColumn("zindex", z2_col("key_col", "key_row"))
        df = (
            df.repartitionByRange(n, "zindex") if n else df.repartitionByRange("zindex")
        ).drop("zindex")
        return self._with(df)

    # --- projections / selections (§2.2) ---------------------------------
    def bands(self, band: int | Iterable[int]) -> "TiledRasterLayer":
        """Band subset (``layer.py:1419-1447``)."""
        idx = [band] if isinstance(band, int) else list(band)
        df = self.df.where(F.col("band").isin(idx))
        # renumber to 0..n-1 preserving order
        mapping = {b: i for i, b in enumerate(idx)}
        mexpr = F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])
        df = df.withColumn("band", mexpr[F.col("band")].cast("int"))
        return self._with(df, replace(self.metadata, num_bands=len(idx)))

    def convert_data_type(self, new_type: str, no_data_value: float | None = None) -> "TiledRasterLayer":
        """Cast cell type (``layer.py:1612-1642``). Cells remain array<double>
        physically; values are clamped/rounded per the target type and the
        metadata cell_type/nodata change."""
        ct = with_user_nodata(new_type, no_data_value) if no_data_value is not None else new_type
        info = parse_cell_type(ct)
        old_nd = self.nodata
        new_nd = info.nodata
        from .core.celltype import _BASE

        bounds = _BASE[info.base][3]

        def fn(c):
            if info.is_float:
                # quantize through the physical target precision
                return c.cast("float").cast("double") if info.base == "float32" else c
            v = F.round(c, 0)
            if bounds is not None:
                # clamp to the target range (GeoTrellis convert semantics);
                # the NoData sentinel is untouched (cellwise_unary skips it)
                lo, hi = bounds
                v = F.least(F.greatest(v, F.lit(float(lo))), F.lit(float(hi)))
            return v

        df = _local.cellwise_unary(self.df, old_nd, fn)
        # rewrite old sentinel -> new sentinel
        if old_nd is not None and new_nd is not None and old_nd != new_nd:
            df = df.withColumn(
                "cells",
                F.transform(
                    F.col("cells"),
                    lambda c: F.when(_local._is_nd(c, old_nd), _local._nd_lit(new_nd)).otherwise(c),
                ),
            )
        return self._with(df, self.metadata.with_cell_type(info.name))

    def with_no_data(self, no_data_value: float | None) -> "TiledRasterLayer":
        """Reinterpret the NoData sentinel (``layer.py:1644-1666``) — a pure
        metadata change, no data rewrite."""
        base = self.metadata.cell_info.base
        ct = base + "raw" if no_data_value is None else with_user_nodata(base, no_data_value)
        return self._with(self.df, self.metadata.with_cell_type(ct))

    def filter_by_times(self, intervals: list) -> "TiledRasterLayer":
        """SPACETIME time filter (``layer.py:2182-2213``): pairs = closed
        ranges, a trailing single instant = exact match. Plain Catalyst
        predicate -> partition/row-group pruning at scale."""
        assert self.is_temporal, "filter_by_times requires a SPACETIME layer"
        conds = None
        i = 0
        while i < len(intervals):
            if i + 1 < len(intervals):
                c = F.col("instant").between(intervals[i], intervals[i + 1])
                i += 2
            else:
                c = F.col("instant") == intervals[i]
                i += 1
            conds = c if conds is None else (conds | c)
        return self._with(self.df.where(conds))

    def to_spatial_layer(self, target_time=None) -> "TiledRasterLayer":
        """Drop the time dimension (``layer.py:1344-1360``)."""
        df = self.df
        if target_time is not None:
            df = df.where(F.col("instant") == target_time)
        return self._with(df.drop("instant"))

    def lookup(self, col: int, row: int) -> list:
        """All tiles at a spatial key (``layer.py:1735-1766``)."""
        return self.df.where(
            (F.col("key_col") == col) & (F.col("key_row") == row)
        ).collect()

    # --- local map algebra (§2.8) ----------------------------------------
    def _scalar_op(self, op: str, other, reverse: bool = False) -> "TiledRasterLayer":
        if isinstance(other, TiledRasterLayer):
            assert self.layout == other.layout and self.metadata.crs == other.metadata.crs, (
                "binary local ops require identical layout and CRS"
            )
            df = _local.cellwise_binary_layer(self.df, other.df, self.nodata, op)
            return self._with(df)
        return self._with(
            _local.cellwise_binary_scalar(self.df, self.nodata, op, float(other), reverse)
        )

    def __add__(self, other):
        return self._scalar_op("+", other)

    __radd__ = __add__

    def __sub__(self, other):
        return self._scalar_op("-", other)

    def __rsub__(self, other):
        return self._scalar_op("-", other, reverse=True)

    def __mul__(self, other):
        return self._scalar_op("*", other)

    __rmul__ = __mul__

    def __truediv__(self, other):
        return self._scalar_op("/", other)

    def __rtruediv__(self, other):
        return self._scalar_op("/", other, reverse=True)

    def __pow__(self, other):
        return self._scalar_op("**", other)

    def __rpow__(self, other):
        return self._scalar_op("**", other, reverse=True)

    def __abs__(self):
        return self._with(_local.cellwise_unary(self.df, self.nodata, F.abs))

    def local_max(self, other):
        return self._scalar_op("max", other)

    def local_min(self, other):
        return self._scalar_op("min", other)

    def reclassify(self, value_map: dict, strategy: str = "LESS_THAN_OR_EQUAL",
                   replace_nodata_with=None, fallback=None) -> "TiledRasterLayer":
        return self._with(
            _local.reclassify(self.df, self.nodata, value_map, strategy,
                              replace_nodata_with, fallback)
        )

    def normalize(self, new_min: float, new_max: float,
                  old_min: float | None = None, old_max: float | None = None) -> "TiledRasterLayer":
        return self._with(
            _local.normalize(self.df, self.nodata, new_min, new_max, old_min, old_max)
        )

    def get_min_max(self) -> tuple[float, float]:
        return _local.global_min_max(self.df, self.nodata)

    # --- reshape ----------------------------------------------------------
    def explode(self, with_coords: bool = False) -> DataFrame:
        tl = self.layout.tile_layout
        out = _reshape.explode_cells(self.df)
        if with_coords:
            out = _reshape.with_global_coords(out, tl.tile_cols, tl.tile_rows)
        return out

    @staticmethod
    def assemble(df_long: DataFrame, metadata: LayerMetadata) -> "TiledRasterLayer":
        tl = metadata.layout.tile_layout
        nd = metadata.nodata
        fill = float("nan") if nd is None else float(nd)
        return TiledRasterLayer(
            _reshape.assemble_cells(df_long, tl.tile_cols, tl.tile_rows, fill), metadata
        )

    # --- operators implemented in sibling modules (bound late to avoid
    #     import cycles; see operators/*.py) ------------------------------
    def mask_distributed(self, geom_df: DataFrame, geom_col: str = "geometry") -> "TiledRasterLayer":
        """Mask by a DataFrame of WKB geometries (the reference's
        RDD-of-geometries path, ``layer.py:2088-2103``) — spatial join:
        explode geoms to keys, per-key collect, equi-join, mask kernel."""
        from .operators import zonal

        return zonal.mask_distributed(self, geom_df, geom_col)

    def mask(self, geometries, partial: bool = False,
             partition_strategy=None, options=None) -> "TiledRasterLayer":
        """Reference signature accepted (``layer.py:2044-2103``):
        ``options`` maps RasterizerOptions.includePartial to ``partial``;
        a DataFrame of geometries routes to the distributed path; a
        partition strategy re-partitions the result."""
        from .operators import zonal

        if options is not None and hasattr(options, "includePartial"):
            partial = bool(options.includePartial)
        if isinstance(geometries, DataFrame):
            out = zonal.mask_distributed(self, geometries)
        else:
            out = zonal.mask(self, _normalize_geoms(geometries), partial)
        if partition_strategy is not None:
            from .types import apply_partition_strategy

            out = apply_partition_strategy(out, partition_strategy)
        return out

    def polygonal_sum(self, geometry):
        from .operators import zonal

        return zonal.polygonal_stat(self, _normalize_geoms(geometry), "sum")

    def polygonal_min(self, geometry):
        from .operators import zonal

        return zonal.polygonal_stat(self, _normalize_geoms(geometry), "min")

    def polygonal_max(self, geometry):
        from .operators import zonal

        return zonal.polygonal_stat(self, _normalize_geoms(geometry), "max")

    def polygonal_mean(self, geometry):
        from .operators import zonal

        return zonal.polygonal_stat(self, _normalize_geoms(geometry), "mean")

    def get_cell_value_counts(self, area_of_interest=None, band: int = 0) -> dict:
        from .operators import zonal

        aoi = _normalize_geoms(area_of_interest) if area_of_interest is not None else None
        return zonal.cell_value_counts(self, aoi, band)

    def get_point_values(self, points, resample_method: str = "NearestNeighbor"):
        from .operators import zonal

        return zonal.point_values(self, points, resample_method)

    def aggregate_by_cell(self, operation: str) -> "TiledRasterLayer":
        from .operators import aggregate

        return aggregate.aggregate_by_cell(self, operation)

    def merge(self) -> "TiledRasterLayer":
        from .operators import aggregate

        return aggregate.merge(self)

    def get_histogram(self, num_buckets: int = 80):
        """Per-band :class:`~geopyspark_spark.histogram.Histogram` built from
        the distributed fixed-width bucket query (reference
        ``layer.py:194-221``). Returns one Histogram for single-band layers,
        else a list indexed by band."""
        from .histogram import Histogram
        from .operators import aggregate

        rows = aggregate.histogram(self, num_buckets)
        return self._rows_to_histograms(rows, Histogram, value_field="mean_value")

    def get_class_histogram(self):
        """Exact int histogram as Histogram object(s) (reference
        ``layer.py:206-221``)."""
        from .histogram import Histogram
        from .operators import aggregate

        rows = aggregate.class_histogram(self)
        return self._rows_to_histograms(rows, Histogram, value_field="value")

    def _rows_to_histograms(self, rows, Histogram, value_field: str):
        per_band: dict[int, list] = {}
        for r in rows:
            per_band.setdefault(r["band"], []).append((r[value_field], r["count"]))
        hists = [Histogram(per_band.get(b, [])) for b in range(self.metadata.num_bands)]
        return hists[0] if self.metadata.num_bands == 1 else hists

    def get_quantile_breaks_exact_int(self, num_breaks: int) -> list[float]:
        """Exact quantile breaks (reference ``get_quantile_breaks_exact_int``,
        ``layer.py:244-255``): exact rank interpolation instead of the
        percentile_approx sketch — memory scales with distinct values, as
        the reference's FastMapHistogram variant does."""
        from .operators import aggregate

        return aggregate.quantile_breaks(self, num_breaks, exact=True)

    def get_quantile_breaks(self, num_breaks: int) -> list[float]:
        from .operators import aggregate

        return aggregate.quantile_breaks(self, num_breaks)

    def focal(self, operation: str, neighborhood: str = "Square", param_1: float = 1,
              param_2: float = 0, param_3: float = 0) -> "TiledRasterLayer":
        from .operators import focal

        return focal.focal(self, operation, neighborhood, param_1, param_2, param_3)

    def convolve(self, kernel_weights) -> "TiledRasterLayer":
        from .operators import focal

        return focal.convolve(self, kernel_weights)

    def morans_i(self, band: int = 0) -> "DataFrame":
        from .operators import focal

        return focal.morans_i(self, band)

    def flow_direction(self) -> "TiledRasterLayer":
        from .operators import focal

        return focal.flow_direction(self)

    def flow_accumulation(self) -> "DataFrame":
        from .operators import focal

        return focal.flow_accumulation(self)

    def watershed(self, max_iterations: int = 32) -> "DataFrame":
        from .operators import focal

        return focal.watershed(self, max_iterations)

    def contour(self, levels, band: int = 0) -> "DataFrame":
        from .operators import contour as _contour

        return _contour.contour(self, levels, band)

    def viewshed(self, col: int, row: int, radius: int) -> "TiledRasterLayer":
        from .operators import focal

        return focal.viewshed(self, col, row, radius)

    def tri(self) -> "TiledRasterLayer":
        from .operators import focal

        return focal.tri(self)

    def tpi(self) -> "TiledRasterLayer":
        from .operators import focal

        return focal.tpi(self)

    def slope(self, zfactor: float = 1.0, zfactor_calculator=None) -> "TiledRasterLayer":
        from .operators import focal

        return focal.slope(self, zfactor, zfactor_calculator)

    def aspect(self) -> "TiledRasterLayer":
        from .operators import focal

        return focal.aspect(self)

    def hillshade(self, azimuth: float = 315.0, altitude: float = 45.0,
                  z_factor: float = 1.0, band: int = 0) -> "TiledRasterLayer":
        from .operators import focal

        return focal.hillshade(self, azimuth, altitude, z_factor, band)

    def tobler(self) -> "TiledRasterLayer":
        """Tobler hiking speed from a slope layer
        (``TiledRasterLayer.scala:385-397``): 6*exp(-3.5*|tan(rad(s))+0.05|)."""
        return self._with(
            _local.cellwise_unary(
                self.df,
                self.nodata,
                lambda c: F.lit(6.0)
                * F.exp(F.lit(-3.5) * F.abs(F.tan(F.radians(c)) + F.lit(0.05))),
            )
        )

    def tile_to_layout(self, layout, target_crs: str | None = None,
                       resample_method: str = "NearestNeighbor",
                       partition_strategy=None) -> "TiledRasterLayer":
        """Re-cut to a target grid (``layer.py:900-953, 1768-1830``). With
        ``target_crs`` this is the README canonical flow
        ``tile_to_layout(GlobalLayout(), 3857)``: warp + retile in one
        shuffle via the reproject machinery. A Metadata or another
        TiledRasterLayer is accepted as the layout source (reference
        contract), and ``partition_strategy`` re-partitions the result."""
        from .core.crs import normalize_crs
        from .operators import tiling

        if isinstance(layout, TiledRasterLayer):
            layout = layout.metadata.layout
        elif isinstance(layout, LayerMetadata):
            layout = layout.layout
        if target_crs is not None and normalize_crs(target_crs) != normalize_crs(self.metadata.crs):
            from .operators import reproject as _reproject

            out = _reproject.reproject(self, target_crs, layout, resample_method)
        else:
            out = tiling.tile_to_layout(self, layout, resample_method)
        if partition_strategy is not None:
            from .types import apply_partition_strategy

            out = apply_partition_strategy(out, partition_strategy)
        return out

    def pyramid(self, resample_method: str = "Average", partition_strategy=None) -> "Pyramid":
        from .operators import tiling

        base = self
        if partition_strategy is not None:
            from .types import apply_partition_strategy

            base = apply_partition_strategy(self, partition_strategy)
        return tiling.pyramid(base, resample_method)

    def stitch(self):
        from .operators import tiling

        return tiling.stitch(self)

    def map_cells(self, fn) -> "TiledRasterLayer":
        """Apply ``fn(cells: np.ndarray[rows,cols], nodata) -> np.ndarray``
        to every (key, band) tile — the Arrow-native replacement for the
        reference's protobuf round-trip (``layer.py:1472-1498``, SURVEY
        §3.3). Output dtype is coerced to float64; shape must be preserved."""
        import numpy as np

        tl = self.metadata.layout.tile_layout
        tc, tr = tl.tile_cols, tl.tile_rows
        nodata = self.nodata

        def mapper(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["cells"] = [
                    np.asarray(
                        fn(np.asarray(c, dtype=np.float64).reshape(tr, tc), nodata),
                        dtype=np.float64,
                    ).reshape(-1).tolist()
                    for c in pdf["cells"]
                ]
                yield pdf

        return self._with(self.df.mapInPandas(mapper, schema=self.df.schema))

    def map_tiles(self, fn) -> "TiledRasterLayer":
        """Apply ``fn(tile: np.ndarray[bands,rows,cols], nodata) -> ndarray``
        to every key's full multiband tile (``layer.py:1449-1470``).
        Band count may not change."""
        import numpy as np

        tl = self.metadata.layout.tile_layout
        tc, tr = tl.tile_cols, tl.tile_rows
        nodata = self.nodata
        keys = [c for c in ("key_col", "key_row", "instant") if c in self.df.columns]
        schema = self.df.schema

        def apply_fn(key, pdf):
            pdf = pdf.sort_values("band")
            tile = np.stack(
                [np.asarray(c, dtype=np.float64).reshape(tr, tc) for c in pdf["cells"]]
            )
            out = np.asarray(fn(tile, nodata), dtype=np.float64)
            if out.shape != tile.shape:
                raise ValueError(f"map_tiles fn changed shape {tile.shape} -> {out.shape}")
            pdf = pdf.copy()
            pdf["cells"] = [out[b].reshape(-1).tolist() for b in range(out.shape[0])]
            return pdf

        return self._with(self.df.groupBy(*keys).applyInPandas(apply_fn, schema=schema))

    def resample_to_power_of_two(self, col_power: int, row_power: int,
                                 resample_method: str = "NearestNeighbor") -> "TiledRasterLayer":
        from .operators import resample

        return resample.resample_to_power_of_two(self, col_power, row_power, resample_method)

    def reproject(self, target_crs: str, layout=None,
                  resample_method: str = "NearestNeighbor") -> "TiledRasterLayer":
        from .operators import reproject as _reproject

        return _reproject.reproject(self, target_crs, layout, resample_method)

    def cost_distance(self, geometries, max_distance: float = float("inf"),
                      max_iterations: int | None = None) -> "TiledRasterLayer":
        from .operators import costdistance

        return costdistance.cost_distance(self, geometries, max_distance, max_iterations)

    def to_png_rdd(self, color_map) -> DataFrame:
        from .operators import render

        return render.to_png(self, color_map)

    def to_geotiff_rdd(self, compress: bool = True) -> DataFrame:
        from .sources import geotiff_codec

        return geotiff_codec.to_geotiff_rdd(self, compress=compress)

    def save_stitched(self, path: str, compress: bool = True) -> None:
        from .sources import geotiff_codec

        geotiff_codec.save_stitched(self, path, compress=compress)

    def mean_series(self, geometry):
        from .operators import zonal

        return zonal.series(self, _normalize_geoms(geometry), "mean")

    def sum_series(self, geometry):
        from .operators import zonal

        return zonal.series(self, _normalize_geoms(geometry), "sum")

    def min_series(self, geometry):
        from .operators import zonal

        return zonal.series(self, _normalize_geoms(geometry), "min")

    def max_series(self, geometry):
        from .operators import zonal

        return zonal.series(self, _normalize_geoms(geometry), "max")

    def histogram_series(self, geometry):
        """Per-instant zonal histogram (reference ``histogram_series``,
        ``layer.py:2024-2027``): [(instant, Histogram)] sorted by time.
        One distributed groupBy(instant, value) under the mask; only the
        bucket summaries reach the driver."""
        from .histogram import Histogram
        from .operators import zonal

        rows = zonal.value_counts_by_instant(
            self, _normalize_geoms(geometry)
        ).collect()
        by_instant: dict = {}
        for r in rows:
            by_instant.setdefault(r["instant"], []).append((r["value"], r["count"]))
        return [
            (instant, Histogram(buckets))
            for instant, buckets in sorted(by_instant.items())
        ]


class Pyramid:
    """Zoom-level stack (``layer.py:2585-2630``): {zoom: TiledRasterLayer}."""

    def __init__(self, levels: dict[int, TiledRasterLayer]):
        self.levels = dict(sorted(levels.items(), reverse=True))
        self.max_zoom = max(levels)
        # the frames cache() pins, in order: every level's own frame,
        # plus the chunk frames when tiling.pyramid built the levels
        self._pins = [layer.df for layer in self.levels.values()]

    def __getitem__(self, zoom: int) -> TiledRasterLayer:
        return self.levels[zoom]

    def to_dataframe(self) -> DataFrame:
        """Single DF with a zoom column (SURVEY §1.5 mapping)."""
        out = None
        for z, layer in self.levels.items():
            d = layer.df.withColumn("zoom", F.lit(z))
            out = d if out is None else out.unionByName(d)
        return out

    def write(self, uri: str, layer_name: str,
              index_strategy: str = "zorder") -> list[str]:
        """Publish every zoom as one catalog tree (the reference ingest
        loop); serves directly through :class:`~.tms.CatalogTileFetcher`."""
        from .sources.catalog import write_pyramid

        return write_pyramid(uri, layer_name, self, index_strategy)

    def cache(self) -> "Pyramid":
        """Persist every level. A pyramid from
        :meth:`TiledRasterLayer.pyramid` first persists its base layer
        and each chunk frame its levels filter, so every level is cut
        from one kernel run."""
        for df in self._pins:
            df.persist()
        return self

    def unpersist(self) -> "Pyramid":
        """Release every frame :meth:`cache` persisted."""
        for df in self._pins:
            df.unpersist()
        return self


def union(layers: list):
    """Bag union (``geopyspark/geotrellis/union.py:10-58``): UNION ALL,
    duplicate keys kept, metadata combined. Accepts tiled layers OR
    untiled :class:`RasterLayer` scans (the reference unions both)."""
    if isinstance(layers[0], RasterLayer):
        df = layers[0].df
        for l in layers[1:]:
            df = df.unionByName(l.df)
        return RasterLayer(df, layers[0].layer_type, layers[0].cell_type)
    md = layers[0].metadata
    df = layers[0].df
    for l in layers[1:]:
        md = md.combine(l.metadata)
        df = df.unionByName(l.df)
    return TiledRasterLayer(df, md)


def local_add(layers: list[TiledRasterLayer]) -> TiledRasterLayer:
    """n-ary cellwise sum (``TiledRasterLayer.scala:232-240``): union +
    groupBy key + elementwise array sum — ONE shuffle with map-side
    partials, instead of chaining n-1 binary joins."""
    assert layers, "need at least one layer"
    md = layers[0].metadata
    df = _local.local_add_many([l.df for l in layers], layers[0].nodata)
    return TiledRasterLayer(df, md)


def combine_bands(layers: list[TiledRasterLayer]) -> TiledRasterLayer:
    """Concatenate band stacks across layers in list order
    (``combine_bands.py:10-69`` / ``TileLayer.scala:322-357``).

    Spark-first: union with a layer-index offset on ``band`` — no
    combineByKey needed because bands are rows, not packed structs.
    """
    offset = 0
    parts = []
    for l in layers:
        parts.append(l.df.withColumn("band", F.col("band") + F.lit(offset)))
        offset += l.metadata.num_bands
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    md = replace(layers[0].metadata, num_bands=offset)
    return TiledRasterLayer(df, md)


def _normalize_geoms(geometries) -> list[Geometry]:
    if isinstance(geometries, (list, tuple)):
        items = list(geometries)
    else:
        items = [geometries]
    out = []
    for g in items:
        if isinstance(g, str):
            out.append(from_wkt(g))
        elif isinstance(g, (bytes, bytearray)):
            from .core.geom import from_wkb

            out.append(from_wkb(bytes(g)))
        else:
            out.append(g)
    return out


class RasterLayer:
    """Untiled scan layer — the reference's ``RasterLayer`` (``layer.py:
    396-1100``): the stage between ``geotiff.get`` and a tiled layer.
    Wraps the untiled window DataFrame (path, window extent, band, cells)
    and carries the tile-time cell-type choice; every heavy method either
    stays declarative or hands off to :class:`TiledRasterLayer`.
    """

    def __init__(self, df: DataFrame, layer_type: str = "spatial",
                 cell_type: str = "float64"):
        self.df = df
        self.layer_type = str(layer_type).lower()
        self.cell_type = cell_type

    # --- inspection -------------------------------------------------------
    def count(self) -> int:
        return self.df.count()

    def get_min_max(self) -> tuple[float, float]:
        """Min/max over every window's cells (one aggregate job)."""
        row = (
            self.df.select(F.explode("cells").alias("v"))
            .where(~F.isnan("v"))
            .agg(F.min("v"), F.max("v"))
            .first()
        )
        return float(row[0]), float(row[1])

    def bands(self, band) -> "RasterLayer":
        bs = [band] if isinstance(band, int) else list(band)
        return RasterLayer(
            self.df.where(F.col("band").isin(bs)), self.layer_type, self.cell_type
        )

    def convert_data_type(self, new_type: str,
                          no_data_value=None) -> "RasterLayer":
        """Records the target cell type; applied when tiling (the
        reference converts at tile materialization too)."""
        ct = new_type if no_data_value is None else f"{new_type}ud{no_data_value}"
        return RasterLayer(self.df, self.layer_type, ct)

    def to_spatial_layer(self) -> "RasterLayer":
        assert self.layer_type == "spacetime", "already spatial"
        return RasterLayer(
            self.df.withColumn("instant", F.lit(None).cast("timestamp")),
            "spatial", self.cell_type,
        )

    # --- tiling -----------------------------------------------------------
    def collect_metadata(self, layout=None) -> "LayerMetadata":
        from .sources.geotiff import collect_metadata as _cm

        return _cm(self.df, cell_type=self.cell_type, layout=layout)

    def tile_to_layout(self, layout_or_metadata=None,
                       resample_method: str = "NearestNeighbor") -> TiledRasterLayer:
        """Cut the scan to a layout grid -> :class:`TiledRasterLayer`
        (reference ``layer.py:1018-1100``). Accepts a LayerMetadata, a
        LocalLayout/LayoutDefinition (metadata inferred), or None
        (LocalLayout default)."""
        md = layout_or_metadata
        if md is None or not isinstance(md, LayerMetadata):
            md = self.collect_metadata(layout_or_metadata)
        from .sources.geotiff import tile_untiled_to_layout

        long = tile_untiled_to_layout(self.df, md)
        out = TiledRasterLayer.assemble(long, md)
        # a convert_data_type recorded on THIS scan wins over whatever
        # cell type the supplied metadata carries
        if self.cell_type != "float64":
            out = out.convert_data_type(self.cell_type)
        return out

    def reproject(self, target_crs, layout=None,
                  resample_method: str = "NearestNeighbor") -> TiledRasterLayer:
        """Tile at the native grid, then warp (the reference's
        RasterLayer.reproject also resolves a layout first)."""
        return self.tile_to_layout(layout).reproject(
            target_crs, resample_method=resample_method
        )

    # --- distributed stats (reference RasterLayer.get_*histogram) --------
    def _finite_cells(self):
        return (
            self.df.select("band", F.explode("cells").alias("v"))
            .where(~F.isnan("v"))
        )

    def get_class_histogram(self):
        """Exact value histogram over the scan (reference ``layer.py:
        206-221`` on RasterLayer). NoData handling happens at tile time;
        here every finite cell counts."""
        from .histogram import Histogram

        rows = (
            self._finite_cells().groupBy("band", "v").count()
            .withColumnRenamed("v", "value").collect()
        )
        return self._scan_histograms(rows, Histogram, "value")

    def get_histogram(self, num_buckets: int = 80):
        """Fixed-width bucket histogram over the scan."""
        from .histogram import Histogram

        lo, hi = self.get_min_max()
        width = (hi - lo) / num_buckets or 1.0
        b = F.least(
            F.lit(num_buckets - 1),
            F.floor((F.col("v") - F.lit(lo)) / F.lit(width)).cast("int"),
        )
        rows = (
            self._finite_cells().withColumn("bucket", b)
            .groupBy("band", "bucket").count()
            .withColumn(
                "mean_value",
                (F.lit(lo) + (F.col("bucket") + 0.5) * F.lit(width)),
            ).collect()
        )
        return self._scan_histograms(rows, Histogram, "mean_value")

    def _scan_histograms(self, rows, Histogram, value_field: str):
        per_band: dict[int, list] = {}
        for r in rows:
            per_band.setdefault(r["band"], []).append((r[value_field], r["count"]))
        hists = [Histogram(v) for _, v in sorted(per_band.items())]
        return hists[0] if len(hists) == 1 else hists
