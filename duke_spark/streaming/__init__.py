from duke_spark.streaming.transcripts_stream import (  # noqa: F401
    run_stream_to_triples, stream_transcripts, turn_rate_windows,
    write_triples_stream)
from duke_spark.streaming.stateful import (  # noqa: F401
    running_conversation_topics)
from duke_spark.streaming.dedup_stream import (  # noqa: F401
    stream_exact_dedup, with_content_key)
from duke_spark.streaming.neardup_stream import (  # noqa: F401
    StreamingNearDupFilter)
from duke_spark.streaming.graph_state import (  # noqa: F401
    IncrementalComponentStore, IncrementalEdgeStore,
    IncrementalFactStore)
