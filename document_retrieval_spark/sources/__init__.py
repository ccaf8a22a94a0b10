from .snapshots import SnapshotTable, is_snapshot_table  # noqa: F401
from .tables import read_transcripts  # noqa: F401
