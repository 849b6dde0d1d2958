"""PySpark daemon that forks its Python workers with the package's
stat-keyed zip rule already installed.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, and Spark starts it as ``python -m s2_geometry_rust_spark._daemon
<worker module>``.  Importing the package installs the rule (its
``__init__`` imports only ``sys``), so every worker the stock
``pyspark.daemon`` then forks has it, also a worker whose tasks never
import the package (``createDataFrame(list)``, ``parallelize().map``).
Nothing beyond the package and what ``pyspark.daemon`` loads is
imported before the fork.
"""

import s2_geometry_rust_spark  # noqa: F401  (installs the rule)
from pyspark import daemon

if __name__ == "__main__":
    daemon.manager()
