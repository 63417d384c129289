from .catalog import (  # noqa: F401
    FILENAME_PATTERN,
    build_catalog,
    parse_archive_keys,
)
