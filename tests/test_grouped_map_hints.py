"""Grouped-map kernels carry no pandas type hints: Spark infers a
grouped-map function's eval type from its hints only when every
parameter has one, and otherwise warns ``Cannot infer the eval type
from type hints`` on every ``applyInPandas`` build."""

import warnings

import numpy as np

import geopyspark_spark as gps
from geopyspark_spark.operators.costdistance import cost_distance


def test_kernel_builds_raise_no_eval_type_warning(spark):
    n, tsz = 16, 8
    layout = gps.LayoutDefinition(gps.Extent(0, 0, n, n),
                                  gps.TileLayout(n // tsz, n // tsz, tsz, tsz))
    md = gps.LayerMetadata(crs="epsg:4326", cell_type="float64", layout=layout,
                           bounds=((0, 0), (1, 1)), extent=layout.extent, num_bands=1)
    rng = np.random.default_rng(0)
    layer = gps.from_numpy(spark, [
        (kc, kr, 0, rng.uniform(1.0, 2.0, size=(tsz, tsz)))
        for kc in range(2) for kr in range(2)], md)
    src = gps.Point(1.5, 14.5)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        cost_distance(layer, src, block_cells=1)
        cost_distance(layer, src, strategy="two_level", table_cells=64)
        layer.slope()
        layer.focal("Mean", "Square", 1)
        layer.reproject("epsg:3857")
        layer.map_tiles(lambda t, nd: t)
        layer.morans_i()
    hints = [str(w.message) for w in caught
             if "Cannot infer the eval type" in str(w.message)]
    assert hints == []
