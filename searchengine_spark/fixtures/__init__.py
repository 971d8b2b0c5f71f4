import os

from .transcripts import (  # noqa: F401
    REFERENCE_QUERIES,
    generate_transcripts_pdf,
    transcripts_df,
    TRANSCRIPTS_SCHEMA,
)

# the committed 126-word English stop list (see FIXTURES.md)
STOP_WORDS_PATH = os.path.join(os.path.dirname(__file__), "stop_words.txt")
