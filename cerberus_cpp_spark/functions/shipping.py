"""Executor-side import bootstrap for pandas-UDF closures.

On a real cluster the package ships with ``spark-submit --py-files``
(north_rule) and these helpers are no-ops. In local / shared-FS
deployments the Python workers inherit neither the driver's
``sys.path`` nor its cwd, so every closure that re-imports the
package captures the package location as a plain string and restores
importability first.
"""

from __future__ import annotations

import os

PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
