from .incremental import high_watermark, incremental_delta, load_or_update  # noqa: F401
from .scd_stream import scd_stream_upsert, scd_upsert_batch  # noqa: F401
