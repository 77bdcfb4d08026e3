package graft.streaming

import graft.operators.{ImageDedup, Multimodal}

/** IMAGE admission, batch and stream ([[MediaAdmissionBehaviour]]). */
class StreamingImageAdmissionSpec extends MediaAdmissionBehaviour(ImageDedup, "img",
  ImageDedup.withPlantedImages, ImageDedup.plantedRecrawlBatch,
  Multimodal.plantHeader(_, Array.emptyByteArray))
