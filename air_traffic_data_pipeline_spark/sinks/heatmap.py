"""Heatmap + lake sinks.

K1 parity: the reference renders a folium HeatMap HTML with a bbox polyline
and a fixed legend (functions.py:290-328). Here the *data* side is a proper
sink adapter: the final small heat-triple frame crosses to Python as one
Arrow table (the only collect in the pipeline) and is rendered; folium is
optional — without it a standalone GeoJSON document is written instead.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

HEAT_RADIUS = 15
HEAT_BLUR = 25
HEAT_MAX_ZOOM = 13
HEAT_MAX_OPACITY = 0.3


def write_heatmap(df: DataFrame, path: str, bounds: dict) -> str:
    """df(lat, lon, weight) -> HTML heatmap (folium) or GeoJSON fallback.

    Rows with a null or NaN lat, lon or weight are dropped: a GeoJSON Point
    needs both coordinates, and neither JSON nor folium has a missing
    weight. The GeoJSON text is byte-equal to ``json.dump`` of the same
    FeatureCollection. Returns the path written.
    """
    t = df.select("lat", "lon", "weight").na.drop().toArrow()
    # na.drop leaves no nulls: numpy tolist() gives to_pylist's floats, 10x faster
    lat, lon, weight = (t.column(c).to_numpy().tolist() for c in ("lat", "lon", "weight"))
    center = [
        (bounds["lamin"] + bounds["lamax"]) / 2,
        (bounds["lomin"] + bounds["lomax"]) / 2,
    ]
    try:
        import folium
        from folium.plugins import HeatMap
    except ImportError:
        bbox = json.dumps([bounds["lomin"], bounds["lamin"], bounds["lomax"], bounds["lamax"]])
        # json.dump's pure-Python encoder costs ~10 us per feature; these
        # f-strings write the same bytes (repr floats, default separators)
        features = ", ".join(
            f'{{"type": "Feature", "geometry": {{"type": "Point", "coordinates": [{x!r}, {y!r}]}}, '
            f'"properties": {{"weight": {w!r}}}}}'
            for y, x, w in zip(lat, lon, weight)
        )
        out = path if path.endswith(".geojson") else path + ".geojson"
        with open(out, "w") as f:
            f.write(f'{{"type": "FeatureCollection", "bbox": {bbox}, "features": [{features}]}}')
        return out

    m = folium.Map(location=center, zoom_start=11)
    corners = [
        [bounds["lamin"], bounds["lomin"]],
        [bounds["lamin"], bounds["lomax"]],
        [bounds["lamax"], bounds["lomax"]],
        [bounds["lamax"], bounds["lomin"]],
        [bounds["lamin"], bounds["lomin"]],
    ]
    folium.PolyLine(corners, color="red", weight=3).add_to(m)
    HeatMap(
        list(zip(lat, lon, weight)),
        radius=HEAT_RADIUS,
        blur=HEAT_BLUR,
        max_zoom=HEAT_MAX_ZOOM,
        max_opacity=HEAT_MAX_OPACITY,
    ).add_to(m)
    m.save(path)
    return path
