"""Fixture encoders: the write side of every format the engine decodes —
``bilevel`` (CCITT, JBIG2), ``raster`` (JPEG, JPEG 2000, PNG, GIF, LZW,
the 5x7 page renderer) and ``pdf`` (the PDF fixture builders).  The
extraction path never imports this package, so Spark workers never load
it."""
