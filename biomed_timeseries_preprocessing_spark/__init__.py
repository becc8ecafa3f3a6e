"""transcript-rollup-engine: a from-scratch PySpark-native time-series
rollup + downsample + retention engine over tables of multi-turn
conversation/agent transcripts.

Capability parity target: kkontras/biomed_timeseries_preprocessing (see
SURVEY.md for the file:line capability map). This package is NOT a port —
the reference is a single-node NumPy pipeline; every operator here is
re-expressed as a partition-parallel Spark DataFrame stage.

The module layout, one line per module, is the "Repository layout"
section of README.md.
"""

__version__ = "0.1.0"
