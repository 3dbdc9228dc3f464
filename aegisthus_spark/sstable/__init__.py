"""Cassandra SSTable readers and writers: Data.db / Index.db /
CompressionInfo.db, format versions ic (1.2.x), jb (2.0.x), la (2.2.x) and
the 3.x+ big/BTI formats (ma .. oa).

Reading follows the reference (aegisthus-hadoop's io/sstable package,
which delegates decode to Cassandra 2.0.10's OnDiskAtom serializer); here
the public on-disk format is re-implemented: ``decoder.scan_split`` runs
the C scanner (``_scan.c``) or its pure-Python twin (``arrow_decode``).
"""

from .decoder import scan_file, scan_split  # noqa: F401
from .writer import write_sstable  # noqa: F401
