"""geozero-spark: PySpark-native spatial-join + tiling engine with the
geometry processing capabilities of georust/geozero (see SURVEY.md).

Subpackages: kernel (pure-Python geometry codecs/math), functions
(dual-dialect SQL gen + Arrow UDFs), operators (PIP join, kNN, tiling,
raster, dedup, similarity, textstats), sources (pages synthesis +
format scans), plans (session/lineage). queries/oracles expose the
driver-facing catalog; convert.convert() is the geozero-cli-style
one-call extension-dispatched transform.

A real __init__ (not a namespace package) so the whole engine ships to
executors as one zip via SparkContext.addPyFile.
"""
