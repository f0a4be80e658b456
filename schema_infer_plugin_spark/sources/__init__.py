"""Sources: table loaders, the deterministic transcripts synthesizer, and the
shared-SQL fixture view that derives a violation-injected transcripts table from
the driver's ``events`` table (runs verbatim in Spark SQL and DuckDB)."""

from .io import load_table, TABLES  # noqa: F401
from .views import TRANSCRIPTS_FROM_EVENTS_SQL, transcripts_from_events  # noqa: F401
from .synth import synth_transcripts  # noqa: F401
