from .layout import (  # noqa: F401
    CopyWord,
    Word,
    build_copy_friendly_word_sequence,
    is_valid_word,
    js_trim,
    page_text,
)
from .pdfbin import decode_pdf, sniff_kind  # noqa: F401
from .hyphen import repair_hyphenation  # noqa: F401
from .html_extract import extract_main_text, segment_blocks  # noqa: F401
from .extract_doc import (  # noqa: F401
    DEFAULT_OPTIONS,
    ExtractOptions,
    PAGE_SEP,
    extract_document,
    sniff_document,
)
