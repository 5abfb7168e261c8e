from .portable_hash import md5_hash64, md5_hash_str  # noqa: F401
from .predicates import interval_overlaps  # noqa: F401
from .timeparse import TIMEMARK_RE, timemark_from_filename  # noqa: F401
from .strings import sanitize_pivot_label  # noqa: F401
