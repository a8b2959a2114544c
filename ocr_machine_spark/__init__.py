"""ocr_machine_spark — a PySpark-native web-page main-content extraction engine.

A from-scratch reimplementation of the *capabilities* of TonyRugg/ocr-machine
(reference at /root/reference, read-only) for Common-Crawl-style HTML pages:

- page classification (table/figure region detection) — analogue of
  ``python_files/table_detector_agent.py``
- block-level layout parse (DOM → typed blocks) — analogue of the Textract
  block model consumed in ``python_files/textract_agent.py``
- noise removal with recorded spans (struck text, boilerplate) — analogue of
  ``python_files/strikethrough_agent.py`` + ``python_files/white_out_manager.py``
- consolidated main-content output per document — analogue of
  ``recombine_split_results`` (``python_files/textract_agent.py:119-200``)

Everything is expressed Spark-first: declarative DataFrame plans, a single
Arrow-batched ``mapInArrow`` stage for the HTML parse (one Python round-trip
on the hot path), built-in ``pyspark.sql.functions`` everywhere else.
"""

__version__ = "0.3.0"
