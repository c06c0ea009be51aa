"""Behaviour every manifest reader of ``sources/`` shares: an empty path
list gives an empty frame of the reader's schema, or — for stores whose
schema comes from the first file — a ValueError naming the empty list."""

import pytest

from sis_spark.sources.coveragejson import coveragejson_tiles
from sis_spark.sources.geojson import GEOJSON_SCHEMA, geojson_table
from sis_spark.sources.gpx import GPX_SCHEMA, gpx_table
from sis_spark.sources.kml import KML_SCHEMA, kml_table
from sis_spark.sources.mf_csv import mf_table


@pytest.mark.parametrize("read, schema", [
    (gpx_table, GPX_SCHEMA),
    (kml_table, KML_SCHEMA),
    (geojson_table, GEOJSON_SCHEMA),
    (mf_table, None),
    (lambda spark, paths: coveragejson_tiles(spark, paths, "temp"), None),
], ids=["gpx", "kml", "geojson", "mf_csv", "coveragejson"])
def test_empty_path_list(spark, read, schema):
    if schema is None:
        with pytest.raises(ValueError, match="empty path list"):
            read(spark, [])
        return
    df = read(spark, [])
    assert df.schema == spark.createDataFrame([], "path string, " + schema).schema
    assert df.count() == 0
