"""Time parsing helpers (SURVEY.md section 2.7 F1).

The reference extracts a "timemark" from harvest file names with the regex
``(\\d+-\\d+-\\d+T\\d+:\\d+:\\d+)`` (``run/createHarvestObsFileMeta.py:150``,
``run/createIngestObsData.py:182``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: filename-embedded ISO datetime, as in the reference. Also accepts ``_``
#: in place of ``:`` — Hadoop paths cannot contain colons, so colon-named
#: harvest files are staged under sanitized names (see plans/obs_ingest).
TIMEMARK_RE = r"(\d+-\d+-\d+T\d+[:_]\d+[:_]\d+)"


def timemark_from_filename(path_col: Column | str) -> Column:
    """Extract the timemark timestamp from a harvest file path/name (F1).

    ``try_to_timestamp``, not ``to_timestamp``: under ANSI mode (Spark 4
    default) the strict form THROWS on a name with no timemark — one
    stray file in a streamed directory would kill the whole query.
    NULL-on-no-match mirrors the reference's driver-side null guard
    (``run/createHarvestObsFileMeta.py:159-164``)."""
    c = F.col(path_col) if isinstance(path_col, str) else path_col
    raw = F.translate(F.regexp_extract(c, TIMEMARK_RE, 1), "_", ":")
    return F.try_to_timestamp(raw, F.lit("yyyy-MM-dd'T'HH:mm:ss"))
