"""atd_dockless_processing_spark — a PySpark-native analytics engine
with the query/data-processing capabilities of
cityofaustin/atd-dockless-processing (reference; see SURVEY.md §0 —
the checkout at /root/reference was empty, so parity is declared
against SURVEY.md §2's operator inventory).

Importing this package registers every operator in
``registry.QUERIES`` / ``registry.ORACLES``.
"""

from . import functions, operators, sources, streaming  # noqa: F401
from .registry import LAYOUTS, ORACLES, QUERIES  # noqa: F401
from .session import get_spark, tune  # noqa: F401
from .tables import TABLES, load  # noqa: F401

__version__ = "0.1.0"
