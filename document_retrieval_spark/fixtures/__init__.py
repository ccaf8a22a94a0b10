from .transcripts import (  # noqa: F401
    gen_queries,
    gen_transcripts,
    transcripts_schema,
)
